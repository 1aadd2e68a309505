package perfbench

import scala.collection.mutable

/** The reference's similarity semantics, computed in the harness process in plain
  * Scala from an occurrence log — independent of the engine's relational
  * plans, so the engine's answers can be checked against it.
  *
  *  - Cells are co-occurrence COUNTS per (item, context).
  *  - Pearson correlation over the full vector: every context counts,
  *    including the ones where an item is absent (zero cells), and every
  *    partner counts, including never-co-occurring ones. Zero-variance items
  *    have NULL (None) correlation.
  *  - Store semantics: per-item min-max scaling of the full vector (a zero
  *    range scales to 0.0), then keep partners whose scaled score is at
  *    least mean + k·σ of the scaled vector, σ the sample deviation.
  *  - kNN semantics: the top k co-occurring partners by correlation,
  *    descending (NULLs last), ties by partner id. */
final class Oracle(occurrences: Iterable[Occ]) {

  private val byItem = mutable.HashMap.empty[Long, mutable.HashMap[Long, Long]]
  locally {
    for (o <- occurrences) {
      val m = byItem.getOrElseUpdate(o.item, mutable.HashMap.empty)
      m(o.ctx) = m.getOrElse(o.ctx, 0L) + 1L
    }
  }
  private val byCtx = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  locally {
    for ((item, cells) <- byItem; (ctx, c) <- cells)
      byCtx.getOrElseUpdate(ctx, mutable.ArrayBuffer.empty) += ((item, c))
  }

  /** Distinct contexts: the number of columns of the occurrence matrix. */
  val n: Double = byCtx.size.toDouble
  /** Distinct (item, context) cells. */
  val cells: Long = byItem.valuesIterator.map(_.size.toLong).sum
  /** Items that occur at least once, ascending. */
  val items: Array[Long] = byItem.keys.toArray.sorted
  private val sx = items.map(i => byItem(i).valuesIterator.sum.toDouble)
  private val sxx = items.map(i => byItem(i).valuesIterator.map(c => (c * c).toDouble).sum)
  private val index = items.zipWithIndex.toMap

  /** Σ x·y with every partner that shares a context with `a`. */
  private def coMoments(a: Long): Map[Long, Double] = {
    val acc = mutable.HashMap.empty[Long, Double]
    for ((ctx, ca) <- byItem.getOrElse(a, mutable.HashMap.empty[Long, Long]);
         (b, cb) <- byCtx(ctx) if b != a)
      acc(b) = acc.getOrElse(b, 0.0) + (ca * cb).toDouble
    acc.toMap
  }

  private def corr(ia: Int, ib: Int, sxy: Double): Option[Double] = {
    val den = math.sqrt(n * sxx(ia) - sx(ia) * sx(ia)) * math.sqrt(n * sxx(ib) - sx(ib) * sx(ib))
    if (den == 0.0 || den.isNaN) None else Some((n * sxy - sx(ia) * sx(ib)) / den)
  }

  /** Correlation of `a` with every other item that occurs (the full vector). */
  def fullVector(a: Long): Seq[(Long, Option[Double])] = index.get(a) match {
    case None => Nil
    case Some(ia) =>
      val co = coMoments(a)
      items.indices.filter(_ != ia).map(ib => items(ib) -> corr(ia, ib, co.getOrElse(items(ib), 0.0)))
  }

  /** Store rows of `a`: every partner's scaled score, and its margin above
    * the mean + k·σ cut (a row is kept when the margin is ≥ 0). */
  def scaled(a: Long, k: Double = 2.0): Seq[Oracle.Scored] = {
    val vec = fullVector(a)
    val defined = vec.flatMap(_._2)
    if (defined.isEmpty) return Nil
    val mn = defined.min
    val mx = defined.max
    val sc = vec.map { case (b, c) =>
      b -> (if (mx == mn) Some(0.0) else c.map(v => (v - mn) / (mx - mn)))
    }
    val vals = sc.flatMap(_._2)
    if (vals.size < 2) return Nil // sample σ undefined → NULL cut keeps nothing
    val mean = vals.sum / vals.size
    val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / (vals.size - 1))
    val thr = mean + k * sd
    sc.collect { case (b, Some(s)) => Oracle.Scored(b, s, s - thr) }
  }

  /** Kept store rows of `a`, best first. */
  def stored(a: Long, k: Double = 2.0): Seq[Oracle.Scored] =
    scaled(a, k).filter(_.margin >= 0).sortBy(r => (-r.score, r.b))

  /** Correlation of `a` with each partner it shares a context with. */
  def coOccurring(a: Long): Map[Long, Option[Double]] = index.get(a) match {
    case None => Map.empty
    case Some(ia) => coMoments(a).map { case (b, sxy) => b -> corr(ia, index(b), sxy) }
  }

  /** The k best co-occurring partners of `a`: (partner, correlation). */
  def topK(a: Long, k: Int): Seq[(Long, Option[Double])] =
    coOccurring(a).toSeq
      .sortBy { case (b, c) => (c.isEmpty, -c.getOrElse(0.0), b) }
      .take(k)

  /** Ordered co-occurring pairs (a, b), a ≠ b: the rows `sparsePairs` scores. */
  def sparsePairCount: Long = {
    val seen = mutable.HashSet.empty[(Long, Long)]
    for ((_, cellsInCtx) <- byCtx; (a, _) <- cellsInCtx; (b, _) <- cellsInCtx if a < b)
      seen += ((a, b))
    2L * seen.size
  }
}

object Oracle {
  final case class Scored(b: Long, score: Double, margin: Double)

  val Tol = 1e-6
  /** Rows this close to the cut may land on either side of it: the engine's
    * closed-form statistics round differently from the direct sums here. */
  val CutTol = 1e-9

  def close(x: Double, y: Double): Boolean = math.abs(x - y) <= Tol

  /** Check one item's stored rows (partner → scaled score) against the
    * oracle. Returns the problems found, empty when the rows agree. */
  def checkStored(o: Oracle, a: Long, rows: Map[Long, Double]): Seq[String] = {
    val all = o.scaled(a).map(r => r.b -> r).toMap
    val bad = mutable.ArrayBuffer.empty[String]
    for ((b, s) <- rows) all.get(b) match {
      case None => bad += s"item $a: unexpected partner $b"
      case Some(r) =>
        if (!close(r.score, s)) bad += s"item $a→$b: score $s, expected ${r.score}"
        if (r.margin < -CutTol) bad += s"item $a→$b: stored below the cut (margin ${r.margin})"
    }
    for (r <- all.values if r.margin > CutTol && !rows.contains(r.b))
      bad += s"item $a: partner ${r.b} missing (score ${r.score}, margin ${r.margin})"
    bad.toSeq
  }

  /** Check an ordered answer list of (partner, score) against the expected
    * list: same length, scores equal position by position, every partner's
    * own score right (so ties may come in either order only when equal). */
  def checkRanked(what: String, got: Seq[(Long, Option[Double])],
                  want: Seq[(Long, Option[Double])],
                  scoreOf: Long => Option[Option[Double]]): Seq[String] = {
    def eq(x: Option[Double], y: Option[Double]) = (x, y) match {
      case (Some(p), Some(q)) => close(p, q)
      case (None, None) => true
      case _ => false
    }
    if (got.size != want.size) Seq(s"$what: ${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.flatMap { case (((gb, gs), (_, ws)), i) =>
      if (!eq(gs, ws)) Some(s"$what: row $i score $gs, expected $ws")
      else if (!scoreOf(gb).exists(eq(_, gs))) Some(s"$what: row $i partner $gb has score $gs, expected ${scoreOf(gb)}")
      else None
    }
  }
}
