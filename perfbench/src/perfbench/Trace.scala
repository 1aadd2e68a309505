package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Half-open time interval [start, end) in microseconds. */
final case class Interval(start: Long, end: Long) {
  def length: Long = math.max(0L, end - start)
}

object Intervals {
  /** The parts of `base` that none of `cuts` cover. */
  def subtract(base: Seq[Interval], cuts: Seq[Interval]): Seq[Interval] =
    cuts.sortBy(_.start).foldLeft(base) { (parts, c) =>
      parts.flatMap { p =>
        if (c.end <= p.start || c.start >= p.end) Seq(p)
        else Seq(Interval(p.start, c.start), Interval(c.end, p.end)).filter(_.length > 0)
      }
    }

  def total(xs: Seq[Interval]): Long = xs.map(_.length).sum
}

/** One recorded span: a call into one layer, or (layer "op") one whole
  * workload operation. `parent` is 0 for a root. */
final class Span(val id: Long, val layer: String, val parent: Long, val start: Long) {
  @volatile var end: Long = start
  @volatile var rowsReturned: Long = 0L
  def interval: Interval = Interval(start, end)
}

/** What the Spark listeners attributed to one span. */
final class Work {
  var jobs = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasksFailed = 0
  var scanRows = 0L
  var ctxJoinRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[Interval]
}

/** Spans recorded from the benchmark's own calls into the engine, with
  * Spark jobs, stages, tasks and SQL executions attributed to the span
  * that was open on the calling thread. Each span runs under its own job
  * group; Spark carries the group to every job the call starts, including
  * jobs started on broadcast and adaptive-execution threads.
  *
  * SQL metrics (rows scanned, rows out of the ctx self-join) are read from
  * each finished SQL execution's executed plan.
  *
  * Spans stay in memory until `write`. The tracer is registered only in a
  * traced run, so untraced runs carry no listener at all. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  private def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  private val work = mutable.HashMap.empty[Long, Work]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  // plan nodes already counted: a cached plan is executed once but shows
  // up again in every later plan that reads the cache
  private val counted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  sc.addSparkListener(this)

  private def group(id: Long) = s"perfbench-$id"
  private def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toLong)

  /** Run `body` inside a span of `layer`, nested in the span open on this
    * thread (if any). */
  def span[T](layer: String)(body: Span => T): T = {
    val parents = open.get()
    val s = new Span(nextId.getAndIncrement(), layer, parents.headOption.fold(0L)(_.id), nowMicros)
    open.set(s :: parents)
    sc.setJobGroup(group(s.id), layer, interruptOnCancel = false)
    try body(s)
    finally {
      s.end = nowMicros
      spans.add(s)
      open.set(parents)
      parents.headOption match {
        case Some(p) => sc.setJobGroup(group(p.id), p.layer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Stop listening once every event posted so far has been delivered. */
  def detach(): Unit = {
    PerfbenchBridge.drain(sc)
    sc.removeSparkListener(this)
  }

  // ---- listener side (one listener-bus thread) ----

  private def workOf(span: Long): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    spanOf(g).foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time * 1000L
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
      workOf(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobSpan.get(e.jobId); st <- jobStart.get(e.jobId))
      workOf(s).jobIntervals += Interval(st, e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); s <- jobSpan.get(j)) {
      val w = workOf(s)
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
      }
      if (e.reason != Success) w.tasksFailed += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.flatMap(spanOf).foreach(span => execSpan(s.executionId) = span)
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (s <- execSpan.remove(end.executionId);
           qe <- Option(PerfbenchBridge.queryExecution(end))) countRows(workOf(s), qe.executedPlan)
    }
    case _ =>
  }

  private def countRows(w: Work, plan: SparkPlan): Unit =
    Tracer.walk(plan) { p =>
      if (counted.add(p)) p match {
        case scan: DataSourceScanExec =>
          w.scanRows += scan.metrics.get("numOutputRows").fold(0L)(_.value)
        case j: BaseJoinExec if j.joinType == Inner &&
            j.leftKeys.exists(_.references.exists(_.name == "ctx")) =>
          w.ctxJoinRows += j.metrics.get("numOutputRows").fold(0L)(_.value)
        case _ =>
      }
    }

  // ---- results ----

  /** Per-span self time, driver time and attributed work. Call after
    * `detach`. */
  def results(): Seq[SpanResult] = synchronized {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val self = Intervals.subtract(Seq(s.interval), kids.getOrElse(s.id, Nil).map(_.interval))
      val w = work.getOrElse(s.id, new Work)
      SpanResult(s, Intervals.total(self) / 1e6,
        Intervals.total(Intervals.subtract(self, w.jobIntervals.toSeq)) / 1e6, w)
    }
  }

  /** Write every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = results().sortBy(_.span.start).map { r =>
      val s = r.span
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","start_us":${s.start},"end_us":${s.end},""" +
        f""""self_s":${r.selfS}%.6f,"driver_s":${r.driverS}%.6f,"jobs":${r.work.jobs},"task_ms":${r.work.taskMs},""" +
        f""""shuffle_write_bytes":${r.work.shuffleWriteBytes},"spill_bytes":${r.work.spillBytes},""" +
        f""""tasks_failed":${r.work.tasksFailed},"scan_rows":${r.work.scanRows},""" +
        f""""ctx_join_rows":${r.work.ctxJoinRows},"rows_returned":${s.rowsReturned}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

final case class SpanResult(span: Span, selfS: Double, driverS: Double, work: Work)

object Tracer {
  /** Visit every node of an executed plan, descending into adaptive
    * stages, reused exchanges and the plans behind cached relations. */
  def walk(plan: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(plan)
    plan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case r: ReusedExchangeExec => walk(r.child)(f)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)(f)
      case _ => plan.children.foreach(walk(_)(f))
    }
  }
}
