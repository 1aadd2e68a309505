package perfbench

/** Checks of the benchmark's own helpers: the oracle on a log small enough
  * to compute by hand, the tail-percentile rule and the self-time
  * subtraction. Run with `python3 perfbench/run.py --selftest`; exits
  * non-zero on the first failed check. */
object SelfTest {

  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"selftest FAILED: $what")
      sys.exit(1)
    }
  }

  private def near(x: Double, y: Double) = math.abs(x - y) <= 1e-12

  private def log(cells: (Long, Long, Int)*): Seq[Occ] =
    cells.flatMap { case (item, ctx, n) => Seq.fill(n)(Occ(item, ctx)) }

  def main(args: Array[String]): Unit = {
    // 3 items × 4 contexts; the matrix (rows items, columns contexts):
    //   x1 = [1 2 0 1]   x2 = [1 0 1 1]   x3 = [0 1 1 1]
    val three = log((1, 1, 1), (2, 1, 1), (1, 2, 2), (3, 2, 1), (2, 3, 1), (3, 3, 1),
      (1, 4, 1), (2, 4, 1), (3, 4, 1))
    val o = new Oracle(three)
    check("contexts") (o.n == 4.0)
    check("cells") (o.cells == 9L)
    // by hand: n·Σxy − Σx·Σy over √(n·Σx² − (Σx)²) √(n·Σy² − (Σy)²)
    val c12 = (4 * 2 - 4 * 3) / (math.sqrt(4 * 6 - 16.0) * math.sqrt(4 * 3 - 9.0)) // −4/√24
    val c13 = 0.0                                                                   // 12 − 12
    val c23 = -1.0 / 3                                                              // −1 / 3
    val v1 = o.fullVector(1).toMap
    check("corr(1,2)") (near(v1(2).get, c12) && near(c12, -0.816496580927726))
    check("corr(1,3)") (near(v1(3).get, c13))
    check("corr(2,3)") (near(o.fullVector(2).toMap.apply(3).get, c23))
    // two partners scale to {0, 1}: mean ½, sample σ √½, so the cut
    // ½ + 2·√½ lies above both and nothing is stored
    val s1 = o.scaled(1).map(r => r.b -> r).toMap
    check("scaled(1)") (near(s1(2).score, 0.0) && near(s1(3).score, 1.0))
    check("margin(1→3)") (near(s1(3).margin, 1.0 - (0.5 + 2 * math.sqrt(0.5))))
    check("stored(1) empty") (o.stored(1).isEmpty)
    check("topK(1)") (o.topK(1, 10) == Seq(3L -> Some(c13), 2L -> Some(v1(2).get)))
    check("topK(2)") (o.topK(2, 1).map(_._1) == Seq(3L))
    check("sparse pairs") (o.sparsePairCount == 6L)

    // an item present once in every context has zero variance: NULL
    val withFlat = new Oracle(three ++ log((4, 1, 1), (4, 2, 1), (4, 3, 1), (4, 4, 1)))
    check("zero variance is NULL") (withFlat.fullVector(1).toMap.apply(4).isEmpty)
    check("zero-variance item stores nothing") (withFlat.stored(4).isEmpty)
    check("NULLs rank last") (withFlat.topK(1, 10).last == (4L -> None))

    // the store checker accepts the oracle's own rows and rejects a wrong
    // score, a missing partner and an extra one
    val shape = LogShape(200, 0.8, 400, 1, 7, 2, 20, 40, 2, 10)
    val g = Gen.generate(shape, 7L, 10, 5)
    val big = new Oracle(g.log)
    val a = g.sample.find(big.stored(_).size >= 2).get
    val rows = big.stored(a).map(r => r.b -> r.score).toMap
    check("checker accepts oracle rows") (Oracle.checkStored(big, a, rows).isEmpty)
    val (b0, s0) = rows.head
    check("checker rejects a wrong score") (Oracle.checkStored(big, a, rows + (b0 -> (s0 + 1e-3))).nonEmpty)
    check("checker rejects a missing row") (Oracle.checkStored(big, a, rows - b0).nonEmpty)
    val extra = big.scaled(a).find(_.margin < -1e-3).get.b
    check("checker rejects an extra row") (Oracle.checkStored(big, a, rows + (extra -> 0.0)).nonEmpty)
    check("same seed, same inputs") (Gen.generate(shape, 7L, 10, 5).log.sameElements(g.log))

    // tail: the eleventh largest sample, so that ten lie beyond it
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 100") (Stats.tail(hundred) == ((90.0, 0.9)))
    check("tail of 200") (Stats.tail((1 to 200).map(_.toDouble)) == ((190.0, 0.95)))
    check("tail of 11") (Stats.tail((1 to 11).map(_.toDouble))._1 == 1.0)
    check("tail of 10 is the max") (Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 1.0)))
    check("median odd") (Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even") (Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // self time: a span [0, 100) whose children cover [10, 50) and
    // [90, 100) keeps 50; jobs covering [0, 5) and [60, 70) of that leave 35
    val self = Intervals.subtract(Seq(Interval(0, 100)),
      Seq(Interval(20, 50), Interval(10, 30), Interval(90, 120)))
    check("self intervals") (self == Seq(Interval(0, 10), Interval(50, 90)))
    check("self time") (Intervals.total(self) == 50)
    val driver = Intervals.subtract(self, Seq(Interval(60, 70), Interval(0, 5)))
    check("driver time") (Intervals.total(driver) == 35)
    check("disjoint cut") (Intervals.subtract(Seq(Interval(0, 10)), Seq(Interval(20, 30))) == Seq(Interval(0, 10)))

    println(s"selftest: $checks checks passed")
  }
}
