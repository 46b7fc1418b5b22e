package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** The analytical read path: a registry-stratified draw of the query
  * registry, run closed-loop by one client over the star schema generated
  * from the seed. Every answer is hashed by the same sink `graft.Bench`
  * uses; the hash must equal that of the answer `run.py` checks against
  * the query's DuckDB oracle.
  *
  * The draw itself uses a fixed seed, so every run and every commit times
  * the same queries and the seed varies only the data and the order in
  * which the draw is run: query costs differ by an order of magnitude, and
  * a per-seed draw would make the median a property of the draw. */
object StarQueries {

  /** The eager-aggregation queries (and q239 between them) are always
    * drawn, so their state on the measured commit shows in `failed`. */
  val Pinned: Seq[String] = Seq("q238_eager_distinct_sqltext", "q239_ivf_stale_rebuild",
    "q240_eager_left_outer", "q241_eager_avg_join")

  val PerRegistry = 1
  val DrawSeed = 0L
  /** A pass over the draw takes about 10 s on 4 cores; a run times at
    * least two, so each query has two samples. */
  val NominalPassSeconds = 10.0
  val MinPasses = 2

  def registries: Seq[Set[String]] = Seq(
    graft.analytics.Analytics.queries, graft.analytics.EventsQueries.queries,
    graft.analytics.WarehouseQueries.queries, graft.llm.LlmQueries.queries,
    graft.analytics.TypedQueries.queries, graft.analytics.MiningQueries.queries,
    graft.llm.CurationQueries.queries, graft.analytics.MvQueries.queries)
    .map(_.keySet.toSet)

  def draw: Seq[String] = {
    val rnd = new Random(DrawSeed)
    val oracles = graft.SparkEntry.oracleSql.keySet
    val drawn = registries.flatMap { reg =>
      rnd.shuffle(reg.toSeq.sorted.filter(q => oracles(q) && !Pinned.contains(q)))
        .take(PerRegistry)
    }
    drawn ++ Pinned.filter(graft.SparkEntry.queries.contains)
  }

  /** The hashing sink: every output column feeds the hash, so no
    * projection can be pruned away. */
  def sink(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toSeq: _*).as("__h")).agg(sum("__h"))

  private def hashOf(df: DataFrame): Long = {
    val r = sink(df).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def dropCached(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def run(spark: SparkSession, args: Args, tracer: Tracer, out: Outcome): Unit = {
    val dir = args.data.toString
    val queries = draw
    val registry = graft.SparkEntry.queries
    out.inputs("star_dir") = dir
    out.inputs("queries") = queries
    out.inputs("query_count") = queries.size

    // set-up: prove the dim keys, then one warm-up pass that pays fixture
    // builds, first-touch reads and codegen; it keeps each answer for the
    // oracle check
    var setupNs = 0L
    val s0 = System.nanoTime()
    graft.SuiteTuning.enableEagerAgg(spark, dir)
    setupNs += System.nanoTime() - s0
    val warm = mutable.LinkedHashMap[String, Option[String]]()
    val expected = mutable.Map[String, Long]()
    val answers = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val warmSeconds = mutable.LinkedHashMap[String, Double]()
    queries.foreach { q =>
      val path = args.work.resolve("answers").resolve(q).toString
      val t0 = System.nanoTime()
      warm(q) = try {
        registry(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      finally dropCached(spark)
      setupNs += System.nanoTime() - t0
      warmSeconds(q) = (System.nanoTime() - t0) / 1e9
      // the hash of the answer read back is the one every timed run of
      // the query must reproduce (check work, not set-up)
      if (warm(q).isEmpty) {
        expected(q) = hashOf(spark.read.parquet(path))
        answers += mutable.LinkedHashMap("query" -> q, "path" -> path)
      }
    }
    out.setupSeconds = setupNs / 1e9
    if (args.perturb.contains("star_hash") && expected.nonEmpty) {
      val q = expected.keys.toSeq.sorted.head
      expected(q) = expected(q) ^ 1L
      out.inputs("perturbed_query") = q
    }
    out.artifacts("answers") = answers.toSeq
    out.artifacts("oracle_sql") =
      answers.map(a => a("query") -> graft.SparkEntry.oracleSql(a("query").toString)).toMap
    out.artifacts("warmup_s") = warmSeconds
    out.artifacts("warmup_errors") = warm.collect { case (q, Some(e)) => q -> e.take(300) }

    // timed loop: a fixed number of whole passes over the draw, each in
    // a seeded order
    val plans = mutable.ArrayBuffer[(Int, Int, Long)]()
    val start = System.nanoTime()
    for (pass <- 0 until args.rounds(NominalPassSeconds, MinPasses)) {
      val order = new Random(args.seed * 7919 + pass).shuffle(queries)
      order.foreach { q =>
        val traced = args.traced(pass)
        var planSeen: org.apache.spark.sql.execution.SparkPlan = null
        val (res, secs) = tracer.op("op.query", traced) {
          try {
            val df = tracer.span("analytics.build")(registry(q)(spark, dir))
            val s = sink(df)
            planSeen = tracer.span("plans.plan")(s.queryExecution.executedPlan)
            // collect, not head: head plans a new limit query, and the
            // plan timed above must be the one that runs
            val r = tracer.span("core.exec")(s.collect().head)
            Right(if (r.isNullAt(0)) 0L else r.getLong(0))
          } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
        }
        out.attempted += 1
        val ok = res match {
          case Left(err) =>
            out.fail(s"$q: $err", wrongAnswer = false)
            false
          case Right(h) if !expected.get(q).contains(h) =>
            out.fail(s"$q: hash $h differs from the checked answer's",
              wrongAnswer = expected.contains(q))
            false
          case Right(_) => true
        }
        out.record(q, secs, pass, traced, ok)
        if (traced && planSeen != null)
          plans += ((Tracer.exchanges(planSeen), Tracer.scans(planSeen),
            Tracer.filesRead(planSeen)))
        dropCached(spark)
      }
    }
    out.measuredSeconds = (System.nanoTime() - start) / 1e9
    if (plans.nonEmpty) {
      out.extra("plans.exchanges") = plans.map(_._1).sum.toDouble / plans.size
      out.extra("plans.scans") = plans.map(_._2).sum.toDouble / plans.size
      out.extra("core.exec.files_read") = plans.map(_._3).sum.toDouble / plans.size
    }
  }
}
