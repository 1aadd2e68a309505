package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM). Small shuffle
  * parallelism keeps tiny-data tests fast; production parallelism is a
  * session concern, not an engine concern. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.Session.start("local[4]", 4)
    // plan-shape specs assert on full scan paths; the repo-local
    // scratch root is long enough that the default 100-char metadata
    // truncation would cut them mid-path
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Collect a 3-col (long, long, double-or-null) pair frame to a map. */
  def pairMap(df: DataFrame, score: String = "corr"): Map[(Long, Long), Option[Double]] =
    df.collect().map { r =>
      val k = (r.getLong(r.fieldIndex("item_a")), r.getLong(r.fieldIndex("item_b")))
      val i = r.fieldIndex(score)
      k -> (if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    }.toMap

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean = math.abs(a - b) <= eps

  /** Dense-vector Pearson witness: the textbook formula over full vectors
    * (zero cells included) — an independent second implementation the
    * relational engine must agree with (SURVEY §5.2.3). Returns None for
    * zero-variance inputs (engine normalizes the reference's NaN to NULL). */
  def densePearson(x: Seq[Double], y: Seq[Double]): Option[Double] = {
    require(x.length == y.length)
    val n = x.length.toDouble
    val (sx, sy) = (x.sum, y.sum)
    val sxx = x.map(v => v * v).sum
    val syy = y.map(v => v * v).sum
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    if (den == 0.0 || den.isNaN) None else Some((n * sxy - sx * sy) / den)
  }

  /** Occurrence log → dense per-item vectors over the distinct ctx space. */
  def denseVectors(occ: Seq[(Long, Long)]): Map[Long, Seq[Double]] = {
    val ctxs = occ.map(_._2).distinct.sorted
    val counts = occ.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    occ.map(_._1).distinct.map { item =>
      item -> ctxs.map(c => counts.getOrElse((item, c), 0.0))
    }.toMap
  }
}
