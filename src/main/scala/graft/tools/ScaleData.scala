package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-probe fixture generator: replicate a driver SF directory K×,
 * TPC-H style — FACT/corpus tables scale (disjoint per-copy key spaces),
 * DIMENSION tables stay fixed (`region`, `nation`), so join fan-outs and
 * group cardinalities scale the way a real 10× corpus would.
 *
 * Per copy k (copy 0 = the original rows unchanged):
 *  - every table-local key (order/cust/supp/part/event/user/doc/vec)
 *    shifts by k·STRIDE, consistently across fact↔fact foreign keys;
 *    `nationkey` references stay as-is (dims are not replicated);
 *  - `documents.text` gets a per-copy letter suffix on EVERY word (and
 *    `n_chars` recomputed) so copies share zero shingles — dedup and
 *    similarity outputs grow linearly in K instead of quadratically
 *    (see the per-copy tweak below for the full rationale);
 *  - `embeddings.embedding` is perturbed by a deterministic per-copy,
 *    per-dimension offset (amplitude 0.2) so copies are distinct
 *    DIRECTIONS — near-dup and ANN structure scales instead of
 *    degenerating into cos=1 clone clusters.
 *
 * Used for the sf1/sf10 bench probes recorded in BASELINE.md (the
 * driver's /root/testdata is read-only and /tmp gets reaped, so probe
 * fixtures land under target/scaledata):
 *   sbt "runMain graft.tools.ScaleData /root/testdata/sf0.1 target/scaledata/sf1 10"
 *   sbt "runMain graft.tools.ScaleData target/scaledata/sf1 target/scaledata/sf10 10 10"
 */
object ScaleData {

  /** Disjoint per-copy key spaces; far above any sf0.1 key, and a
    * multiple of 50 so the `vec_id % 50` query-set class is preserved
    * exactly per copy. */
  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleData <srcDir> <outDir> <copies> [strideMult]")
    val src = args(0); val out = args(1)
    val copies = args(2).toInt
    // Chaining probes (sf0.1→sf1→sf10) needs a wider stride on the second
    // hop: sf1 keys already span copies×Stride, so shift by Stride×(the
    // src's own copy count) to keep per-copy key spaces disjoint.
    val strideMult = if (args.length == 4) args(3).toLong else 1L
    val spark = graft.core.Session.start(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims: copied through unchanged
    for (t <- Seq("region", "nation")) write(read(t), t)

    def scaled(t: String, keyCols: Seq[String])(tweak: (DataFrame, Int) => DataFrame) = {
      val base = read(t)
      val all = (0 until copies).map { k =>
        val shifted = keyCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(k * Stride * strideMult)))
        tweak(shifted, k)
      }.reduce(_ unionByName _)
      write(all, t)
    }
    def noTweak(df: DataFrame, k: Int): DataFrame = { val _ = k; df }

    scaled("customer", Seq("c_custkey"))(noTweak)
    scaled("supplier", Seq("s_suppkey"))(noTweak)
    scaled("part", Seq("p_partkey"))(noTweak)
    scaled("orders", Seq("o_orderkey", "o_custkey"))(noTweak)
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))(noTweak)
    scaled("events", Seq("event_id", "user_id"))(noTweak)
    scaled("documents", Seq("doc_id")) { (df, k) =>
      if (k == 0) df
      else {
        // Per-copy suffix on EVERY word (letters only, so letter-class
        // tokenizers keep it attached): copies share zero shingles, so
        // planted near-dup cliques stay their ORIGINAL size per copy and
        // every dedup/similarity tier's output grows linearly in K — a
        // replicated corpus where copies are cross-copy near-dups made
        // q122's TRUE pair count (and its inverted-index join) grow
        // quadratically with K, which measured as a fake 31× "scale
        // regression" at the 10× probe. Within-copy structure is
        // untouched: every doc in copy k gets the identical per-word
        // rewrite, so base-corpus near-dup relations survive verbatim.
        val tag = s"x${('a' + k).toChar}"
        df.withColumn("text",
            when(length(trim(col("text"))) === 0, col("text"))
              .otherwise(concat_ws(" ",
                transform(split(col("text"), "\\s+"), w => concat(w, lit(tag))))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    scaled("embeddings", Seq("vec_id")) { (df, k) =>
      if (k == 0) df
      else df.withColumn("embedding",
        // deterministic direction perturbation: x_i += 0.2·sin(vec_id·(i+1) + k)
        zip_with(col("embedding"),
          transform(sequence(lit(1), size(col("embedding"))),
            i => sin(col("vec_id").cast("double") * i.cast("double") + lit(k.toDouble))),
          (x, s) => (x + lit(0.2f) * s.cast("float")).cast("float")))
    }

    println(s"[scale] wrote ${copies}x of $src to $out")
    spark.stop()
  }
}
