package perfbench

import java.util.SplittableRandom

/** Shape of the generated occurrence log. Every field comes from
  * `perfbench/workloads.json` through `run.py`; nothing is hard-wired. */
final case class LogShape(
    items: Int,          // catalog size
    zipf: Double,        // item popularity exponent
    baskets: Int,        // short contexts
    basketMin: Int,      // short context size, uniform in [basketMin, basketMax]
    basketMax: Int,
    longContexts: Int,   // thin tail of long contexts (hot-context skew)
    longMin: Int,        // long context sizes, evenly spaced in [longMin, longMax]
    longMax: Int,
    deltas: Int,         // ingest: delta slices after the base half
    appendsPerDelta: Int // ingest: existing contexts each delta appends to
)

/** One occurrence: `item` seen in context `ctx`. */
final case class Occ(item: Long, ctx: Long)

/** A serving request. */
sealed trait ServeOp
final case class Retrieve(id: Long) extends ServeOp
final case class ItemInfo(ids: Seq[Long]) extends ServeOp
final case class Search(term: String) extends ServeOp

/** Everything one seed produces: the full log (the `build` and `serve`
  * input), its ingest split (base half + delta slices, where each delta
  * also appends to contexts that already exist), the item dictionary, the
  * serving request stream and the oracle's item sample. */
final case class Generated(
    log: Array[Occ],
    base: Array[Occ],
    deltas: IndexedSeq[Array[Occ]],
    dictionary: Array[(Long, String)],
    ops: Array[ServeOp],
    sample: Array[Long])

object Gen {

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ze", "bo", "da", "fu", "gi", "ha", "jo", "pe")

  /** `count` distinct pseudo-words of two or three syllables. */
  def vocabulary(rng: SplittableRandom, count: Int): Array[String] = {
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < count) {
      val n = 2 + rng.nextInt(2)
      words += (1 to n).map(_ => syllables(rng.nextInt(syllables.length))).mkString
    }
    words.toArray
  }

  /** Inverse-CDF sampler over ranks 0 until n with weight 1 / (rank + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      c
    }
    def draw(rng: SplittableRandom): Int = {
      val u = rng.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  def generate(shape: LogShape, seed: Long, serveOps: Int, sampleSize: Int): Generated = {
    val rng = new SplittableRandom(seed)
    // popularity rank → item id through a seeded permutation, so popular
    // items are scattered over the id space
    val ids = Array.tabulate(shape.items)(i => (i + 1).toLong)
    shuffle(ids, rng)
    val zipf = new Zipf(shape.items, shape.zipf)
    def item(): Long = ids(zipf.draw(rng))

    // long contexts sit at evenly spaced positions, sizes alternating from
    // the short and the long end, so the ingest base and every delta slice
    // get the same share of hot contexts whatever the seed
    val longSizes = Array.tabulate(shape.longContexts)(i =>
      if (shape.longContexts == 1) shape.longMin
      else shape.longMin + (shape.longMax - shape.longMin) * i / (shape.longContexts - 1))
    val longOrder = longSizes.indices.map(i => if (i % 2 == 0) i / 2 else longSizes.length - 1 - i / 2)
    val total = shape.baskets + shape.longContexts
    val longAt = longOrder.indices.map(i => (i * total / shape.longContexts + total / shape.longContexts / 2) -> longSizes(longOrder(i))).toMap
    val sizes = Array.tabulate(total)(c => longAt.getOrElse(c,
      shape.basketMin + rng.nextInt(shape.basketMax - shape.basketMin + 1)))
    val contexts: Array[Array[Long]] = sizes.map(n => Array.fill(n)(item()))

    def occs(from: Int, until: Int): Array[Occ] =
      (from until until).iterator.flatMap { c =>
        contexts(c).iterator.map(i => Occ(i, c + 1L))
      }.toArray
    val log = occs(0, contexts.length)

    // ingest: base = first half of the contexts; the rest in `deltas`
    // slices, each also appending to contexts that already exist — one
    // occurrence of an item the context holds (a shared cell, so the fold
    // takes its merge path) and one fresh draw
    val half = contexts.length / 2
    val bounds = (0 to shape.deltas).map(j => half + (contexts.length - half) * j / shape.deltas)
    val deltas = (0 until shape.deltas).map { j =>
      val existing = bounds(j)
      val appended = Array.fill(shape.appendsPerDelta) {
        val c = rng.nextInt(existing)
        val known = contexts(c)(rng.nextInt(contexts(c).length))
        Array(Occ(known, c + 1L), Occ(item(), c + 1L))
      }.flatten
      occs(bounds(j), bounds(j + 1)) ++ appended
    }
    val base = occs(0, half)

    val words = vocabulary(rng, math.max(16, shape.items / 40))
    val dictionary = ids.sorted.map { id =>
      (id, s"${words(rng.nextInt(words.length))}-${words(rng.nextInt(words.length))}-$id")
    }

    // serving stream: 80 % retrieve(Zipf id), 10 % itemInfo(5 ids),
    // 10 % search(word), exactly so in every block of ten requests (in a
    // seeded order), so that a short timed phase sees the same mix
    // whatever the seed
    val kinds = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 2)
    val ops = Array.tabulate[ServeOp](serveOps) { i =>
      if (i % kinds.length == 0) shuffle(kinds, rng)
      kinds(i % kinds.length) match {
        case 0 => Retrieve(item())
        case 1 => ItemInfo(Seq.fill(5)(item()))
        case _ => Search(words(rng.nextInt(words.length)))
      }
    }

    // oracle sample: half popular (Zipf draws), half uniform over the
    // items that occur in the full log
    val present = log.iterator.map(_.item).toArray.distinct.sorted
    val isPresent = present.toSet
    val sample = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (sample.size < math.min(sampleSize, present.length)) {
      val i = if (sample.size % 2 == 0) item() else present(rng.nextInt(present.length))
      if (isPresent(i)) sample += i
    }
    Generated(log, base, deltas, dictionary, ops, sample.toArray)
  }

  private def shuffle[T](a: Array[T], rng: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}
