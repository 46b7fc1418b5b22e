package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM; `run.py` builds it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, data: Path, out: Path, cores: Int,
                      perturb: Option[String]) {

  /** How many rounds (days, passes, lake rounds) the timed loop runs:
    * `seconds` over a round's nominal cost on a 4-core machine, and at
    * least `min`. The count depends on `seconds` only, never on how fast
    * the program runs, so every commit times the same work. A traced run
    * times at least three: the first, untraced, still warms up, so the
    * overhead ratio compares the traced second with the untraced third. */
  def rounds(nominalSeconds: Double, min: Int): Int =
    Seq(min, math.round(seconds / nominalSeconds).toInt, if (trace) 3 else 0).max

  /** Whether round `i` (from 0) runs traced: every second one of a traced run. */
  def traced(round: Int): Boolean = trace && round % 2 == 1
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("data")), Paths.get(m("out")),
      m("cores").toInt, m.get("perturb").filter(_.nonEmpty))
  }
}

/** One timed op: its label (query, lake op kind, or `refresh`), wall
  * seconds, round, whether it ran traced, and whether it succeeded. A
  * failed op is left out of every timing; `run.py` may still mark an op
  * failed when an answer fails its oracle. */
final case class Op(label: String, seconds: Double, round: Int, traced: Boolean, var ok: Boolean)

/** What a workload hands back: its timed ops, failure counts, its set-up
  * seconds, input sizes, and the per-layer figures only the workload
  * itself can compute. */
final class Outcome {
  val ops = mutable.ArrayBuffer[Op]()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val failures = mutable.ArrayBuffer[String]()
  var setupSeconds = 0.0
  var measuredSeconds = 0.0
  val inputs = mutable.LinkedHashMap[String, Any]()
  val extra = mutable.LinkedHashMap[String, Double]()
  val artifacts = mutable.LinkedHashMap[String, Any]()

  /** Records a failed op; `wrongAnswer` marks an answer the check
    * refused, as opposed to an op that raised. */
  def fail(what: String, wrongAnswer: Boolean): Unit = {
    failed += 1
    if (wrongAnswer) wrong += 1
    if (failures.size < 20) failures += what.replaceAll("\\s+", " ").take(300)
  }

  def record(label: String, seconds: Double, round: Int, traced: Boolean, ok: Boolean): Unit =
    ops += Op(label, seconds, round, traced, ok)

  def tracedOps: Int = ops.count(_.traced)

  /** Traced over untraced wall time of the same op (query, lake op kind,
    * or day refresh): the geometric mean over labels timed both ways of
    * the ratio of their medians, over the ops that succeeded after the
    * first round. */
  def overheadRatio: Double = {
    val ratios = ops.filter(o => o.ok && o.round > 0).groupBy(_.label).values.toSeq.flatMap { is =>
      val (t, u) = is.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(math.log(Main.median(t.map(_.seconds).toSeq) / Main.median(u.map(_.seconds).toSeq)))
    }
    if (ratios.isEmpty) Double.NaN else math.exp(ratios.sum / ratios.size)
  }
}

/** The benchmark's JVM entry: starts one Spark session, runs one
  * workload for the requested seconds, and writes every figure to a
  * JSON file that `run.py` checks and prints. */
object Main {

  /** Spans every workload may emit; each gets the same counters. */
  val SpanNames: Seq[String] = Seq(
    "sources.lark.ingest", "warehouse.bronze", "warehouse.silver", "warehouse.gold",
    "analytics.build", "plans.plan", "core.exec",
    "dsv2.lookup", "dsv2.upsert", "dsv2.delete", "dsv2.compact")

  val Extras: Seq[String] = Seq(
    "sources.lark.records_fetched", "sources.lark.rows_landed",
    "sources.lark.landed_ratio", "warehouse.silver.files_rewritten",
    "warehouse.write_amp", "plans.exchanges", "plans.scans",
    "core.exec.files_read", "dsv2.lookup.files_read",
    "dsv2.lookup.rows_scanned_per_row", "dsv2.compact.bytes_rewritten",
    "dsv2.space_amp")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    // Spark's status store keeps up to 1000 SQL executions with their
    // plans by default; over hundreds of ops that fills the old
    // generation and puts full collections into timed ops, so it keeps
    // only the recent ones (nothing here reads it)
    val spark = graft.core.GraftSession.builder(args.cores)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val out = new Outcome
    try {
      args.workload match {
        case "medallion_daily" => Medallion.run(spark, args, tracer, out)
        case "star_queries" => StarQueries.run(spark, args, tracer, out)
        case "lakehouse_upserts" => Lakehouse.run(spark, args, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val layers = tracer.summarize()
      tracer.close()
      writeResult(args, sessionSeconds, out, tracer, layers)
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def writeResult(args: Args, sessionSeconds: Double, out: Outcome,
                          tracer: Tracer, layers: Map[String, LayerTotals]): Unit = {
    // run.py derives the end-to-end metrics from these figures, after
    // it has checked the answers against their oracles
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> args.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "inputs" -> out.inputs,
      "attempted" -> out.attempted, "failed" -> out.failed, "wrong" -> out.wrong,
      "failures" -> out.failures.toSeq,
      "session_start_s" -> sessionSeconds,
      "workload_setup_s" -> out.setupSeconds,
      "measured_s" -> out.measuredSeconds,
      "rss_peak_mb" -> rssPeakMb(),
      "artifacts" -> out.artifacts,
      "ops" -> out.ops.map(o => Seq(o.label, o.seconds, o.traced, o.ok)))
    if (args.trace) {
      val traced = math.max(1, out.tracedOps)
      val perLayer = mutable.LinkedHashMap[String, Any]()
      SpanNames.foreach { n =>
        val t = layers.getOrElse(n, new LayerTotals)
        val selfS = t.selfNs / 1e9
        perLayer(s"$n.self_s") = selfS / traced
        perLayer(s"$n.jobs") = t.jobs.toDouble / traced
        perLayer(s"$n.tasks") = t.tasks.toDouble / traced
        perLayer(s"$n.slot_util") =
          if (t.selfNs == 0) 0.0 else t.busyMs / 1e3 / (selfS * args.cores)
        perLayer(s"$n.driver_only_s") = t.driverOnlyNs / 1e9 / traced
        perLayer(s"$n.shuffle_bytes") = t.shuffleBytes.toDouble / traced
        perLayer(s"$n.spill_bytes") = t.spillBytes.toDouble / traced
        perLayer(s"$n.output_bytes") = t.outputBytes.toDouble / traced
      }
      Extras.foreach(n => perLayer(n) = out.extra.getOrElse(n, 0.0))
      val cov = tracer.coverage
      perLayer("trace.span_coverage_min") = if (cov.isEmpty) 0.0 else cov.min
      perLayer("trace.overhead_ratio") = out.overheadRatio
      result("per_layer") = perLayer
      val traceFile = args.out.resolveSibling(args.out.getFileName.toString
        .stripSuffix(".json") + ".spans.json")
      Files.writeString(traceFile, Json.render(Map(
        "spans" -> tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
          "name" -> s.name, "id" -> s.id, "parent" -> s.parent,
          "trace_id" -> s.traceId, "start_ns" -> s.start, "end_ns" -> s.end)).toSeq,
        "counters" -> tracer.counters.bySpan.toSeq.sortBy(_._1).map { case (id, c) =>
          mutable.LinkedHashMap[String, Any]("span" -> id, "jobs" -> c.jobs,
            "tasks" -> c.tasks, "busy_ms" -> c.busyMs,
            "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
            "output_bytes" -> c.outputBytes, "records_read" -> c.recordsRead)
        })))
      result("trace_file") = traceFile.toString
    }
    Files.writeString(args.out, Json.render(result))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
