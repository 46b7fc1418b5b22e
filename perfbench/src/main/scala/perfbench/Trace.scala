package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** One traced interval. Times are `System.nanoTime`; `parent` is -1 for
  * an op's root span, and every span of one op shares its `traceId`. */
final case class Span(id: Int, name: String, parent: Int, traceId: Int,
                      start: Long, var end: Long = -1L)

/** Spans around the benchmark's calls into each layer, plus Spark job,
  * task and I/O counters attributed to the innermost open span through
  * a thread-local job property. Disabled, it only times ops. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextTrace = 0
  // converts listener event times (epoch ms) into the nanoTime domain
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val counters: Counters = if (enabled) new Counters else null
  if (enabled) sc.addSparkListener(counters)

  /** Runs one op as a root span (traced only when `traced`); returns
    * the result and the op's wall seconds. */
  def op[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
    val on = enabled && traced
    if (on) nextTrace += 1
    val t0 = System.nanoTime()
    val s = if (on) enter(name, t0) else null
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally if (on) exit(s)
  }

  /** A layer span inside the current op; a plain call when no op is traced. */
  def span[T](name: String)(body: => T): T =
    if (open.isEmpty) body
    else {
      val s = enter(name, System.nanoTime())
      try body finally exit(s)
    }

  private def enter(name: String, t: Long): Span = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), nextTrace, t)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s
  }

  private def exit(s: Span): Unit = {
    s.end = System.nanoTime()
    open = open.tail
    sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
  }

  /** Waits for the listener bus, then folds spans and counters into
    * per-span-name totals. */
  def summarize(): Map[String, LayerTotals] = {
    if (!enabled) return Map.empty
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val children = spans.groupBy(_.parent)
    val jobIntervals = counters.jobs.values.toSeq
      .filter(j => j.end > 0)
      .map(j => (j.start * 1000000L + epochToNano, j.end * 1000000L + epochToNano))
    val out = mutable.Map[String, LayerTotals]()
    spans.foreach { s =>
      val kids = children.get(s.id).fold(Seq.empty[(Long, Long)])(_.map(k => (k.start, k.end)).toSeq)
      val self = subtract(Seq((s.start, s.end)), kids)
      val selfNs = self.map { case (a, b) => b - a }.sum
      val driverOnly = subtract(self, jobIntervals).map { case (a, b) => b - a }.sum
      val c = counters.bySpan.getOrElse(s.id, new SpanCounters)
      val t = out.getOrElseUpdate(s.name, new LayerTotals)
      t.selfNs += selfNs
      t.driverOnlyNs += driverOnly
      t.jobs += c.jobs
      t.tasks += c.tasks
      t.busyMs += c.busyMs
      t.shuffleBytes += c.shuffleBytes
      t.spillBytes += c.spillBytes
      t.outputBytes += c.outputBytes
    }
    out.toMap
  }

  /** Seconds of each traced op covered by its top-level layer spans, as
    * a share of the op's wall time. */
  def coverage: Seq[Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.parent == -1).map { root =>
      val covered = kids.getOrElse(root.id, Nil).map(k => k.end - k.start).sum
      covered.toDouble / math.max(1L, root.end - root.start)
    }.toSeq
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(counters)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Parts of `xs` not covered by any interval of `cut`. */
  def subtract(xs: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.foldLeft(xs) { case (acc, (c0, c1)) =>
      acc.flatMap { case (a, b) =>
        if (c1 <= a || c0 >= b) Seq((a, b))
        else Seq((a, c0), (c1, b)).filter { case (x, y) => y > x }
      }
    }

  /** Every physical node of an executed plan, through adaptive
    * wrappers, query stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other =>
      other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  def scans(p: SparkPlan): Int = nodes(p).count {
    case _: FileSourceScanExec | _: RowDataSourceScanExec | _: DataSourceV2ScanExecBase => true
    case _ => false
  }

  /** Files the plan's file scans opened, plus the input partitions its
    * DSv2 scans planned (one per shard for the lakehouse connector). */
  def filesRead(p: SparkPlan): Long = nodes(p).map {
    case f: FileSourceScanExec => f.metrics.get("numFiles").fold(0L)(_.value)
    case b: DataSourceV2ScanExecBase => b.partitions.map(_.size.toLong).sum
    case _ => 0L
  }.sum
}

/** File-level views of a directory tree, for the write-side counters. */
object Disk {
  /** path -> (size, mtime) of every file under `dir`. */
  def snapshot(dir: java.io.File): Map[String, (Long, Long)] =
    if (dir.isFile) Map(dir.getPath -> (dir.length, dir.lastModified))
    else Option(dir.listFiles).toSeq.flatten.flatMap(snapshot).toMap

  /** (files, bytes) written between two snapshots: new or changed files. */
  def added(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.values.map(_._1).sum)
  }
}

final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var recordsRead = 0L
}

final class LayerTotals {
  var selfNs = 0L
  var driverOnlyNs = 0L
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

final case class JobTimes(start: Long, var end: Long = -1L)

/** Job, task and I/O counters keyed by the span that submitted the job. */
final class Counters extends SparkListener {
  val bySpan = mutable.Map[Int, SpanCounters]()
  val jobs = mutable.Map[Int, JobTimes]()
  private val stageSpan = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobTimes(e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .foreach { id =>
        val span = id.toInt
        bySpan.getOrElseUpdate(span, new SpanCounters).jobs += 1
        e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, span))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = bySpan.getOrElseUpdate(span, new SpanCounters)
      c.tasks += 1
      c.busyMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}
