package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.SimilarityModel
import graft.core.{Caches, Correlation, Crosstab, Neighbors, Scratch, StoreBuild}
import graft.store.SimilarityStore
import graft.streaming.IncrementalIngest

/** Settings of one run: the run's own arguments from the command line,
  * everything else from the spec file, `perfbench/workloads.json`. */
final case class Conf(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cpus: Int,
    shape: LogShape, serveOps: Int, sample: Int, setupReps: Int,
    minCycles: Int, deltas: Int, warmupOps: Int, outDir: Path) {
  private def file(kind: String, ext: String): Path =
    outDir.resolve(s"$kind-$workload-$seed-${if (trace) 1 else 0}.$ext")
  def out: Path = file("result", "json")
  def report: Path = file("report", "json")
  def spans: Path = file("spans", "jsonl")
}

object Conf {
  /** `--workload w --seed n --seconds s --trace 0|1 --cpus n --spec file --out-dir dir` */
  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = new ObjectMapper().readTree(new File(kv("spec")))
    def at(pointer: String): JsonNode = {
      val n = spec.at(pointer)
      require(n.isNumber, s"$pointer: no number in ${kv("spec")}")
      n
    }
    def i(pointer: String) = at(pointer).asInt
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1", kv("cpus").toInt,
      LogShape(i("/log/items"), at("/log/zipf").asDouble, i("/log/baskets"), i("/log/basket_min"),
        i("/log/basket_max"), i("/log/long_contexts"), i("/log/long_min"), i("/log/long_max"),
        i("/log/deltas"), i("/log/appends_per_delta")),
      i("/serve/ops"), i("/oracle/sample_items"), i("/setup_reps"), i("/build/min_cycles"),
      i("/ingest/deltas"), i("/serve/warmup_ops"), Paths.get(kv("out-dir")))
  }
}

/** Latencies and failures of the timed operations. A failed or wrong
  * operation is counted against `attempted` and never timed as a success. */
final class Outcome {
  val attempted = new AtomicInteger
  val tracedAttempts = new AtomicInteger
  val failed = new AtomicInteger
  val untracedMs = new ConcurrentLinkedQueue[Double]
  val tracedMs = new ConcurrentLinkedQueue[Double]
  val errors = new ConcurrentLinkedQueue[String]
  val parts = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]

  def begin(traced: Boolean): Unit = {
    attempted.incrementAndGet()
    if (traced) tracedAttempts.incrementAndGet()
  }

  def part(name: String, ms: Double): Unit =
    parts.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(ms)

  def record(traced: Boolean, ms: Double, problems: Seq[String]): Unit =
    if (problems.isEmpty) (if (traced) tracedMs else untracedMs).add(ms)
    else fail(problems.mkString("; "))

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(msg.take(400))
  }
}

object Main {

  /** `body`'s result and its wall time in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def session(cpus: Int): SparkSession = {
    // the session graft.Bench deploys: local[N], N shuffle partitions,
    // the engine's extensions, scratch pinned off /tmp
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.warehouse.dir", Scratch.warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cached RDD blocks held by the session: (entries, MB in memory + on disk). */
  def cacheState(spark: SparkSession): (Int, Double) = {
    org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  def main(args: Array[String]): Unit = {
    Scratch.pinTmpdir() // before any Spark class touches the JVM temp root
    val conf = Conf.parse(args)
    val code =
      try { new Run(conf).execute(); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
    sys.exit(code)
  }
}

/** One benchmark run: set-up, the workload's timed phase, oracle checks,
  * and the result files. */
final class Run(conf: Conf) {
  import Main._

  private val (spark, sessionMs) = timed(session(conf.cpus))
  private var tracer: Option[Tracer] = None
  private val outcome = new Outcome
  private val dir = Scratch.dir("perfbench")
  private val storePath = s"$dir/store"
  private val statePath = s"$dir/state"
  private var g: Generated = _
  private var inputs: String = _
  private lazy val fullOracle = new Oracle(g.log)
  /** Ingest: the oracle over base + the first j deltas at index j - 1. */
  private var deltaOracles: IndexedSeq[Oracle] = _
  private lazy val dictionary: Map[Long, String] = g.dictionary.toMap

  // Build and serve run at least `seconds` (build: at least a minimum count
  // of cycles, each from a session without cached state); ingest applies a
  // fixed count of deltas, since its state grows with every one. A traced
  // run interleaves traced and untraced operations, so it doubles all of
  // these; its per-layer figures come from the traced half.
  private val scale = if (conf.trace) 2 else 1
  private val phaseSeconds = scale * conf.seconds
  private val deltasApplied = scale * conf.deltas
  require(deltasApplied <= conf.shape.deltas,
    s"$deltasApplied deltas needed, ${conf.shape.deltas} generated")

  private def occ(name: String): DataFrame = spark.read.parquet(s"$inputs/$name")

  // ---- set-up ----

  private def writeOcc(rows: Array[Occ], path: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.toSeq.map(o => (o.item, o.ctx)), conf.cpus)
      .toDF("item_id", "reference_id").write.parquet(path)
  }

  /** Generate every input from the seed and write the ones this workload
    * reads as parquet — the engine sees only these files. */
  private def generateInputs(): Unit = {
    import spark.implicits._
    g = Gen.generate(conf.shape, conf.seed, conf.serveOps, conf.sample)
    inputs = Scratch.dir("inputs")
    spark.sparkContext.parallelize(g.dictionary.toSeq, conf.cpus)
      .toDF("id", "key").write.parquet(s"$inputs/dict")
    if (conf.workload == "ingest") {
      writeOcc(g.base, s"$inputs/base")
      for (j <- 1 to g.deltas.size) writeOcc(g.deltas(j - 1), s"$inputs/delta$j")
    } else writeOcc(g.log, s"$inputs/log")
  }

  private val setupMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def setup(): Unit = {
    setupMs("session") = sessionMs
    // generation and input writes, several times; the median counts
    val reps = (1 to conf.setupReps).map(_ => timed(generateInputs())._2)
    setupMs("inputs") = Stats.median(reps)
    // the oracles are the harness's own work: built here, in no timing
    if (conf.workload == "ingest")
      deltaOracles = (1 to deltasApplied).map(j => new Oracle(g.base ++ g.deltas.take(j).flatten))
    else fullOracle.cells
    conf.workload match {
      case "build" =>
        setupMs("warmup") = timed(buildCycle(traced = false, record = false))._2
      case "serve" =>
        setupMs("prebuild") = timed {
          Caches.clearAll(spark)
          SimilarityModel.fit(occ("log")).storeAllIn(storePath, occ("dict"))
          Caches.clearAll(spark) // the session then holds only what serving caches
        }._2
        setupMs("warmup") = timed(serveLoop(g.ops.takeRight(conf.warmupOps), Double.PositiveInfinity,
          traceEvery = 0, record = false))._2
      case "ingest" =>
        setupMs("base_snapshot") = timed {
          Caches.clearAll(spark)
          IncrementalIngest.applyBatch(occ("base"), 0L, statePath, keepLast = Some(2))
          SimilarityModel.fromStats(IncrementalIngest.loadLatest(spark, statePath).get)
            .storeAllIn(storePath, occ("dict"))
        }._2
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  // ---- build: fit(occ).storeAllIn(path, dict), then fit(occ).topK(10) ----

  private def span[T](layer: String, traced: Boolean)(body: Span => T): T =
    tracer.filter(_ => traced).fold(body(new Span(0L, layer, 0L, 0L)))(_.span(layer)(body))

  private def crosstab(o: DataFrame, traced: Boolean): DataFrame =
    span("Crosstab", traced) { _ =>
      val ct = Caches.cacheOnce(Crosstab.build(o))
      ct.count()
      ct
    }

  /** The store half of a build: every public call the facade makes, each
    * in its layer's span when traced. */
  private def store(traced: Boolean): Unit = {
    val o = occ("log")
    val dict = occ("dict")
    if (!traced) SimilarityModel.fit(o).storeAllIn(storePath, dict)
    else span("op", traced) { _ =>
      val ct = crosstab(o, traced)
      span("SimilarityStore", traced)(_ => SimilarityStore.writeCorrelatedItems(dict, storePath))
      val kept = span("StoreBuild", traced)(_ => StoreBuild.scaledNeighbors(ct, 2.0))
      span("SimilarityStore", traced)(_ => SimilarityStore.writeSimilarItems(kept, storePath))
    }
  }

  private def topK(traced: Boolean): Unit = {
    val o = occ("log")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    if (!traced) noop(SimilarityModel.fit(o).topK(10))
    else span("op", traced) { _ =>
      val ct = crosstab(o, traced)
      val pairs = span("Correlation", traced) { _ =>
        val p = Correlation.sparsePairs(ct)
        p.count()
        p
      }
      span("Neighbors", traced)(_ => noop(Neighbors.topK(pairs, 10)))
    }
  }

  private def checkStore(oracle: Oracle): Seq[String] = {
    val rows = SimilarityStore.readSimilarItems(spark, storePath)
      .where(col("item_a_id").isin(g.sample.toSeq: _*))
      .collect().groupBy(_.getLong(0))
    g.sample.toSeq.flatMap { a =>
      Oracle.checkStored(oracle, a,
        rows.getOrElse(a, Array.empty[Row]).map(r => r.getLong(1) -> r.getDouble(2)).toMap)
    }
  }

  private def checkTopK(): Seq[String] = {
    val rows = SimilarityModel.fit(occ("log")).topK(10)
      .where(col("item_a").isin(g.sample.toSeq: _*))
      .collect().groupBy(_.getLong(0))
    g.sample.toSeq.flatMap { a =>
      val got = rows.getOrElse(a, Array.empty[Row]).toSeq
        .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy { case (b, c) => (c.isEmpty, -c.getOrElse(0.0), b) }
      val co = fullOracle.coOccurring(a)
      Oracle.checkRanked(s"topK($a)", got, fullOracle.topK(a, 10), co.get)
    }
  }

  /** One build operation: a full store build and a kNN pass, each from a
    * session without cached state. Recorded operations are checked. */
  private def buildCycle(traced: Boolean, record: Boolean): Unit = {
    if (record) outcome.begin(traced)
    try {
      Caches.clearAll(spark)
      val (_, storeMs) = timed(store(traced))
      val storeBad = if (record) checkStore(fullOracle) else Nil
      Caches.clearAll(spark)
      val (_, topkMs) = timed(topK(traced))
      if (record) {
        outcome.record(traced, storeMs + topkMs, storeBad ++ checkTopK())
        if (!traced) { outcome.part("store_ms", storeMs); outcome.part("topk_ms", topkMs) }
      }
    } catch { case e: Throwable => if (record) outcome.fail(s"build: $e") else throw e }
  }

  // ---- serve: closed loop of `cpus` clients over the prebuilt store ----

  private val storedMemo = new ConcurrentHashMap[Long, Seq[Oracle.Scored]]

  private def checkServe(op: ServeOp, rows: Array[Row]): Seq[String] = op match {
    case Retrieve(id) =>
      val want = storedMemo.computeIfAbsent(id, a => fullOracle.stored(a)).take(10)
      val scores = want.map(r => r.b -> r.score).toMap
      val keyBad = rows.toSeq.collect {
        case r if !dictionary.get(r.getLong(0)).contains(r.getString(1)) => s"retrieve($id): key of ${r.getLong(0)}"
      }
      keyBad ++ Oracle.checkRanked(s"retrieve($id)",
        rows.toSeq.map(r => r.getLong(0) -> Some(r.getDouble(2))),
        want.map(r => r.b -> Some(r.score)),
        b => scores.get(b).map(Some(_)))
    case ItemInfo(ids) =>
      val want = ids.distinct.sorted.flatMap(i => dictionary.get(i).map(k => (i, k, null)))
      val got = rows.toSeq.map(r => (r.getLong(0), r.getString(1), r.get(2)))
      if (got == want) Nil else Seq(s"itemInfo($ids): $got, expected $want")
    case Search(term) =>
      val t = term.toLowerCase
      val want = g.dictionary.toSeq.filter(_._2.toLowerCase.contains(t))
        .sortBy { case (id, k) => (k, id) }.take(10)
      val got = rows.toSeq.map(r => (r.getLong(0), r.getString(1)))
      if (got == want) Nil else Seq(s"search($term): $got, expected $want")
  }

  private lazy val handle = SimilarityModel.Store(spark, storePath)

  /** Answers of the timed serving loop: (traced, ms, request, rows),
    * checked after the loop so that checking takes no client time. */
  private val answers = new ConcurrentLinkedQueue[(Boolean, Double, ServeOp, Array[Row])]

  private def checkAnswers(): Unit =
    answers.asScala.foreach { case (traced, ms, op, rows) =>
      outcome.record(traced, ms, checkServe(op, rows))
    }

  private def request(op: ServeOp): Array[Row] = op match {
    case Retrieve(id) => handle.retrieve(id, Some(10)).collect()
    case ItemInfo(ids) => handle.itemInfo(ids).collect()
    case Search(term) => handle.search(term).collect()
  }

  /** Run `ops` from `clients` threads until they run out or `seconds`
    * pass. With `traceEvery` = 2 every other request of a client is traced.
    * Returns the wall time of the loop in seconds. */
  private def serveLoop(ops: Array[ServeOp], seconds: Double, traceEvery: Int,
                        record: Boolean): Double = {
    val next = new AtomicInteger
    val t0 = System.nanoTime()
    val deadline = if (seconds >= 1e6) Long.MaxValue else t0 + (seconds * 1e9).toLong
    val clients = (1 to conf.cpus).map { c =>
      val t = new Thread(() => {
        var mine = 0
        var i = next.getAndIncrement()
        while (i < ops.length && System.nanoTime() < deadline) {
          val traced = traceEvery > 0 && mine % traceEvery == 1
          val op = ops(i)
          if (record) outcome.begin(traced)
          try {
            val (rows, ms) = timed(span("op", traced)(_ => span("Serving", traced) { s =>
              val r = request(op)
              s.rowsReturned = r.length
              r
            }))
            if (record) answers.add((traced, ms, op, rows))
          } catch { case e: Throwable => if (record) outcome.fail(s"$op: $e") else throw e }
          mine += 1
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ---- ingest: fold a delta, refresh the store from the snapshot ----

  private def delta(j: Int, traced: Boolean): Unit = {
    outcome.begin(traced)
    try {
      val batch = occ(s"delta$j")
      val dict = occ("dict")
      val (_, ms) = timed {
        if (!traced) {
          IncrementalIngest.applyBatch(batch, j.toLong, statePath, keepLast = Some(2))
          SimilarityModel.fromStats(IncrementalIngest.loadLatest(spark, statePath).get)
            .storeAllIn(storePath, dict)
        } else span("op", traced) { _ =>
          val stats = span("IncrementalIngest", traced) { _ =>
            IncrementalIngest.applyBatch(batch, j.toLong, statePath, keepLast = Some(2))
            IncrementalIngest.loadLatest(spark, statePath).get
          }
          span("SimilarityStore", traced)(_ => SimilarityStore.writeCorrelatedItems(dict, storePath))
          val kept = span("StoreBuild", traced)(_ => StoreBuild.scaledNeighborsFromStats(stats, 2.0))
          span("SimilarityStore", traced)(_ => SimilarityStore.writeSimilarItems(kept, storePath))
        }
      }
      outcome.record(traced, ms, checkStore(deltaOracles(j - 1)))
    } catch { case e: Throwable => outcome.fail(s"delta $j: $e") }
  }

  // ---- the run ----

  def execute(): Unit = {
    var phaseS = 0.0
    var cache = (0, 0.0)
    val cacheTrail = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    try {
      setup()
      tracer = if (conf.trace) Some(new Tracer(spark)) else None
      val t0 = System.nanoTime()
      def elapsed() = (System.nanoTime() - t0) / 1e9
      conf.workload match {
        case "build" =>
          var i = 0
          while (i < scale * conf.minCycles || elapsed() < phaseSeconds) {
            buildCycle(traced = conf.trace && i % 2 == 0, record = true)
            i += 1
          }
        case "serve" =>
          serveLoop(g.ops.dropRight(conf.warmupOps), phaseSeconds, if (conf.trace) 2 else 0, record = true)
        case "ingest" =>
          cacheTrail += cacheState(spark)
          // traced runs fold twice the deltas, traced in the order
          // T U U T T U … so that early (cold) and late (larger-state)
          // deltas fall on both sides
          for (j <- 1 to deltasApplied) {
            delta(j, traced = conf.trace && ((j - 1) % 4 == 0 || (j - 1) % 4 == 3))
            cacheTrail += cacheState(spark)
          }
      }
      phaseS = elapsed()
      cache = cacheState(spark) // before any clearAll
      checkAnswers()
      tracer.foreach(_.detach())
      writeResults(phaseS, cache, cacheTrail.toSeq)
    } finally {
      Caches.clearAll(spark)
      spark.stop()
      Scratch.cleanup()
    }
  }

  // ---- results ----

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  private def metric(name: String, value: Double, unit: String): String =
    s""""$name":{"value":${num(value)},"unit":"$unit"}"""

  private def writeResults(phaseS: Double, cache: (Int, Double),
                           cacheTrail: Seq[(Int, Double)]): Unit = {
    val lat = outcome.untracedMs.asScala.toSeq
    val traced = outcome.tracedMs.asScala.toSeq
    val attempted = outcome.attempted.get
    val failed = outcome.failed.get
    val correct = failed == 0 && attempted > 0 && (lat.nonEmpty || traced.nonEmpty)
    val setupS = setupMs.values.sum / 1e3
    val (tail, tailQ) = if (lat.nonEmpty) Stats.tail(lat) else (0.0, 0.0)
    val p50 = if (lat.nonEmpty) Stats.median(lat) else 0.0

    val metrics: Seq[String] =
      if (!conf.trace) Seq(
        metric("op_p50_ms", p50, "ms"),
        metric("op_tail_ms", tail, "ms"),
        // serve: completed requests per second of the client loop; build
        // and ingest: per second of operation time, without the checks
        // between operations
        metric("ops_per_s",
          lat.size / (if (conf.workload == "serve") phaseS else lat.sum / 1e3), "1/s"),
        metric("setup_s", setupS, "s"))
      else layerMetrics(cache, cacheTrail, traced, lat)

    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${metrics.mkString(",")}}}"""
    Files.createDirectories(conf.out.getParent)
    Files.write(conf.out, result.getBytes("UTF-8"))

    val parts = outcome.parts.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${num(Stats.median(v.asScala.toSeq))}"""
    }
    val errs = outcome.errors.asScala.map(e => "\"" + e.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\"")
    val report =
      s"""{"workload":"${conf.workload}","seed":${conf.seed},"seconds":${conf.seconds},"trace":${conf.trace},""" +
        s""""cpus":${conf.cpus},"occurrences":${g.log.length},"items":${conf.shape.items},""" +
        s""""attempted":$attempted,"failed":$failed,"error_rate":${num(if (attempted == 0) 0 else failed.toDouble / attempted)},""" +
        s""""samples":${lat.size},"traced_samples":${traced.size},"tail_quantile":${num(tailQ)},""" +
        s""""phase_s":${num(phaseS)},"cache_entries":${cache._1},"cache_mb":${num(cache._2)},""" +
        s""""part_medians_ms":{${parts.mkString(",")}},""" +
        s""""setup_ms":{${setupMs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}},""" +
        s""""errors":[${errs.mkString(",")}]}"""
    Files.write(conf.report, report.getBytes("UTF-8"))
  }

  private val layers = Seq("Crosstab", "Correlation", "Neighbors", "StoreBuild",
    "SimilarityStore", "IncrementalIngest", "Serving")

  /** Per-layer figures of the traced operations, each per operation. */
  private def layerMetrics(cache: (Int, Double), cacheTrail: Seq[(Int, Double)],
                           traced: Seq[Double], untraced: Seq[Double]): Seq[String] = {
    val t = tracer.get
    Files.createDirectories(conf.spans.getParent)
    t.write(conf.spans)
    val rs = t.results()
    val ops = math.max(1, outcome.tracedAttempts.get)
    val by = rs.groupBy(_.span.layer).withDefaultValue(Nil)
    val perLayer = layers.flatMap { l =>
      val xs = by(l)
      Seq(
        metric(s"$l.self_s", xs.map(_.selfS).sum / ops, "s"),
        metric(s"$l.driver_s", xs.map(_.driverS).sum / ops, "s"),
        metric(s"$l.task_s", xs.map(_.work.taskMs).sum / 1e3 / ops, "s"),
        metric(s"$l.jobs", xs.map(_.work.jobs).sum.toDouble / ops, "count"),
        metric(s"$l.shuffle_write_mb", xs.map(_.work.shuffleWriteBytes).sum / 1e6 / ops, "MB"),
        metric(s"$l.spill_mb", xs.map(_.work.spillBytes).sum / 1e6 / ops, "MB"),
        metric(s"$l.tasks_failed", xs.map(_.work.tasksFailed).sum.toDouble / ops, "count"))
    }
    val corr = by("Correlation")
    val pairRowsPerCell =
      if (corr.isEmpty) 0.0 else corr.map(_.work.ctxJoinRows).sum.toDouble / corr.size / fullOracle.cells
    val keptRatio = conf.workload match {
      case "build" | "ingest" if by("StoreBuild").nonEmpty =>
        val stateOracle = if (conf.workload == "build") fullOracle else deltaOracles.last
        SimilarityStore.readSimilarItems(spark, storePath).count().toDouble / stateOracle.sparsePairCount
      case _ => 0.0
    }
    val serving = by("Serving")
    val returned = serving.map(_.span.rowsReturned).sum
    val deltas = math.max(1, cacheTrail.size - 1)
    val growth =
      if (conf.workload == "ingest" && cacheTrail.size > 1) (cacheTrail.last._2 - cacheTrail.head._2) / deltas
      else 0.0
    val overhead =
      if (traced.nonEmpty && untraced.nonEmpty) (Stats.median(traced) - Stats.median(untraced)) / 1e3
      else 0.0
    perLayer ++ Seq(
      metric("Correlation.pair_rows_per_cell", pairRowsPerCell, "ratio"),
      metric("StoreBuild.kept_ratio", keptRatio, "ratio"),
      metric("Serving.jobs_per_op",
        if (serving.isEmpty) 0.0 else serving.map(_.work.jobs).sum.toDouble / serving.size, "count"),
      metric("Serving.rows_scanned_per_row_returned",
        if (returned == 0) 0.0 else serving.map(_.work.scanRows).sum.toDouble / returned, "ratio"),
      metric("Caches.entries", cache._1.toDouble, "count"),
      metric("Caches.mb", cache._2, "MB"),
      metric("Caches.mb_growth_per_delta", growth, "MB"),
      metric("Trace.overhead_s", overhead, "s"))
  }
}
