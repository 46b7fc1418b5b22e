package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan shape guards: the properties that make these operators
  * survive a 100x scale-up, pinned as tests so a refactor that
  * reintroduces a scale-killer (cartesian pair join, repeated scan,
  * lost pushdown, lost broadcast) fails CI — not just the benchmark.
  *
  * Runs on sf0.001 — plan shape, not data volume, is under test.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Physical plan text after AQE settles on the final plan. */
  private def planText(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }).toLowerCase
  }

  /** Number of scans of `table` in the optimized logical plan — the
    * recompute fan-out a shared subplan would pay per branch. */
  private def scanCount(df: DataFrame, table: String): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
        case _ => ""
      }
    }.count(_.contains(s"$table.parquet"))
  }

  test("q42 LSH banding scans documents exactly once (no recompute fan-out)") {
    val df = graft.llm.LlmQueries.minhashLshPairs(spark, sf)
    assert(scanCount(df, "documents") == 1)
    assert(!planText(df).contains("cartesianproduct"))
  }

  test("q43 Jaccard blocking joins on (lang, length-bucket) — never cartesian") {
    val plan = planText(graft.llm.LlmQueries.jaccardPairs(spark, sf))
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q52 embedding near-dup joins on bucket — never cartesian") {
    val plan = planText(graft.llm.LlmQueries.embeddingNearDup(spark, sf))
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q01 pushes the shipdate filter and prunes columns at the scan") {
    val plan = planText(graft.analytics.Analytics.pricingSummary(spark, sf))
    assert(plan.contains("pushedfilters: [isnotnull(l_shipdate)"), s"plan:\n$plan")
    // 7 needed columns, not all 16
    val readSchema = "readschema: ([^\\n]*)".r.findFirstMatchIn(plan).get.group(1)
    assert(!readSchema.contains("l_partkey"), s"readSchema: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("q03/q04 star joins broadcast every dim and pre-aggregate lineitem") {
    // the ~1.5s sf0.1 medians on these are stage-count x AQE scheduling
    // latency, not plan defects (measured r8: pre-agg 0.46s settled,
    // direct/2-level/full shapes all 1.3-1.7s) — so the thing to pin is
    // that the SHAPE stays right: order-grain pre-agg before any join,
    // every dim side broadcast, no sort-merge anywhere, and the
    // lineitem scan pruned to its three referenced columns
    for (q <- Seq("q03_segment_revenue", "q04_nation_revenue")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = planText(df)
      assert(!p.contains("sortmergejoin"), s"$q: sort-merge join crept in")
      assert(!p.contains("cartesianproduct"), s"$q: cartesian")
      assert(p.contains("broadcasthashjoin"), s"$q: lost its broadcasts")
      assert(p.contains("partial_sum"), s"$q: lost map-side combine")
      // the pre-agg keys the FIRST aggregate on l_orderkey, before joins
      assert(p.contains("hashaggregate(keys=[l_orderkey"),
        s"$q: order-grain pre-aggregate gone")
      assert(p.contains("readschema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
        s"$q: lineitem scan no longer pruned to 3 columns")
    }
  }

  test("q01 aggregation is partial (map-side combine) before the shuffle") {
    val plan = planText(graft.analytics.Analytics.pricingSummary(spark, sf))
    assert(plan.contains("hashaggregate"), s"plan:\n$plan")
    // partial agg appears below the exchange: two hashaggregate layers
    assert("hashaggregate".r.findAllIn(plan).size >= 2, s"plan:\n$plan")
  }

  test("fact enrichment joins broadcast the dim side") {
    import org.apache.spark.sql.functions._
    val fa = spark.createDataFrame(
      Seq(("A1", "E001"), ("A2", "E002"))).toDF("attendance_id", "user_id")
      .withColumn("attendance_date", current_timestamp())
      .withColumn("check_time", current_timestamp())
      .withColumn("check_location_name", lit("HQ"))
      .withColumn("is_offsite", lit(false))
      .withColumnRenamed("attendance_id", "attendance_record_id")
    val dim = spark.createDataFrame(
      Seq(("E001", "sur1"))).toDF("user_id", "employee_sur_id")
    val plan = planText(graft.warehouse.Silver.factAttendanceRecord(fa, dim))
    assert(plan.contains("broadcasthashjoin"), s"plan:\n$plan")
  }

  test("q36 as-of join compiles to union+window — no join operator at all") {
    val df = graft.analytics.WarehouseQueries.asofDimLookup(spark, sf)
    val plan = planText(df)
    assert(!plan.contains("join"), s"plan:\n$plan")
    assert(plan.contains("window"), s"plan:\n$plan")
  }

  test("q37 salted join stays an equi-join (no cartesian from the salt)") {
    val plan = planText(graft.analytics.WarehouseQueries.saltedEnrich(spark, sf))
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q38 interval join is a bucketized equi-join — no nested loop") {
    val plan = planText(graft.analytics.WarehouseQueries.priceBandJoin(spark, sf))
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
  }

  test("dedupCorpus materialize hook cuts the documents rescan to zero") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // Lazy default: the survivors slice feeds three branches, each
    // recomputing the scan + canonicalization.
    val lazyPlan = graft.llm.Dedup.dedupCorpus(docs)
    assert(scanCount(lazyPlan, "documents") >= 3)
    // With the hook, every shared slice is a checkpointed RDD: the final
    // plan re-reads NOTHING from the source.
    val hooked = graft.llm.Dedup.dedupCorpus(docs, materialize = _.localCheckpoint())
    assert(scanCount(hooked, "documents") == 0)
    assert(hooked.filter(col("keep")).count() > 0)
  }

  test("q55 simhash near-dup is a banded equi-join — never cartesian") {
    val plan = planText(graft.llm.LlmQueries.simhashNearDup(spark, sf))
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("indexed IVF probe is bucket-pruned and exchange-free on the index side") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.llm.Similarity.writeIvfIndex(emb, "ivf_index_guard", nBuckets = 8,
      centStride = 20)
    val queries = Seq(1L, 7L, 13L)
    val df = graft.llm.Similarity.ivfTopKIndexed(spark, "ivf_index_guard",
      emb, queries, k = 5, nprobe = 2, centStride = 20)
    val plan = planText(df)
    // the literal cell predicate prunes buckets at the scan...
    assert(plan.contains("selectedbucketscount"), s"plan:\n$plan")
    // ...and the probe join shuffles NOTHING on the join key: the only
    // exchanges allowed are the broadcast and the per-query rank window
    assert(!plan.contains("hashpartitioning(cent_id"), s"plan:\n$plan")
    // indexed search returns exactly what the unindexed path computes
    val direct = graft.llm.Similarity.ivfTopK(emb, queries, k = 5,
      nprobe = 2, centStride = 20)
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    val indexed = df.orderBy(col("query_id"), col("rank")).collect().toSeq
    assert(indexed == direct)
    spark.sql("DROP TABLE IF EXISTS ivf_index_guard")
  }

  test("IVF-PQ search is bucket-pruned and reads codes only — no float vectors") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.llm.Similarity.writeIvfPqIndex(emb, "ivfpq_index_guard", nBuckets = 8,
      centStride = 20, m = 8)
    // the index table itself holds no float vector — codes only
    val idxSchema = spark.table("ivfpq_index_guard").schema
    assert(!idxSchema.fieldNames.contains("embedding"), idxSchema.treeString)
    assert(idxSchema.fieldNames.sorted.toSeq === Seq("cent_id", "codes", "vec_id"))
    val queries = Seq(1L, 7L, 13L)
    val df = graft.llm.Similarity.ivfPqTopK(spark, "ivfpq_index_guard", emb,
      queries, k = 5, nprobe = 2, centStride = 20, m = 8)
    val plan = planText(df)
    // the literal cell predicate prunes buckets at the scan, and the
    // probe/ADC joins broadcast — the codes scan is never shuffled on
    // its join keys
    assert(plan.contains("selectedbucketscount"), s"plan:\n$plan")
    assert(!plan.contains("hashpartitioning(cent_id"), s"plan:\n$plan")
    assert(df.count() >= queries.size) // non-degenerate result
    spark.sql("DROP TABLE IF EXISTS ivfpq_index_guard")
  }

  test("narrow text/embedding ops are single-pass: zero shuffle exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val narrowOps = Seq(
      "heuristicFilter" -> graft.llm.TextStats.heuristicFilter(docs),
      "redactPii" -> graft.llm.TextStats.redactPii(docs),
      "qualityMetrics" -> graft.llm.TextStats.qualityMetrics(docs),
      "tokenCounts" -> graft.llm.TextStats.tokenCounts(docs),
      // sorted-run mode count, NOT a (doc_id, gram) group-by — the
      // fold keeps the two gram shuffles out of the corpus scan
      "repetitionMetrics" -> graft.llm.TextStats.repetitionMetrics(docs),
      "hashSplit" -> graft.llm.CorpusOps.hashSplit(docs),
      "quantizeInt8" -> graft.llm.Similarity.quantizeInt8(emb))
    narrowOps.foreach { case (name, df) =>
      val plan = planText(df)
      assert(!plan.contains("exchange"),
        s"$name should be a narrow map — at 100 TB any shuffle here is pure waste:\n$plan")
    }
  }

  test("q62 decontamination broadcasts the eval grams — corpus text never shuffles") {
    val plan = planText(graft.llm.LlmQueries.decontaminate(spark, sf))
    assert(plan.contains("broadcast"),
      s"eval n-gram set must broadcast (it is benchmark-scale):\n$plan")
    assert(!plan.contains("sortmergejoin"),
      s"a shuffle join here would move the whole corpus' n-grams:\n$plan")
  }

  test("q45 exact top-k broadcasts the query batch over one corpus pass") {
    val df = graft.llm.LlmQueries.cosineTopK(spark, sf)
    val plan = planText(df)
    assert(plan.contains("broadcasthashjoin") || plan.contains("broadcastnestedloopjoin"),
      s"plan:\n$plan")
    assert(scanCount(df, "embeddings") <= 2) // corpus + query slice
  }

  test("q68 quality score is a narrow map: zero shuffle exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planText(graft.llm.CorpusOps.qualityScore(docs))
    assert(!plan.contains("exchange"),
      s"model scoring must ride the corpus scan — any shuffle is pure waste:\n$plan")
  }

  test("q69 token-budget window partitions by (source, shard) — never a single partition") {
    val plan = planText(graft.llm.LlmQueries.tokenBudgetSample(spark, sf))
    assert(!plan.contains("singlepartition"),
      s"an unsharded sampling window serializes the corpus through one task:\n$plan")
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
  }

  test("q70 snapshot delta joins on content hash — hash-sized rows, no cartesian") {
    val df = graft.llm.LlmQueries.snapshotDelta(spark, sf)
    // static plan: AQE's empty-relation propagation elides the semi join
    // when the sf0.001 fixture happens to have no snapshot hit, so the
    // join CHOICE is asserted pre-runtime
    val logical = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(logical.contains("leftsemi"),
      s"snapshot membership must be a semi join (snapshot text never surfaces):\n$logical")
    val plan = planText(df)
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q74 broadcasts the brand part list (never shuffles lineitem against it)") {
    val plan = planText(graft.analytics.Analytics.smallQuantityRevenue(spark, sf))
    assert(plan.contains("broadcasthashjoin"), s"plan:\n$plan")
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
  }

  test("q79 funnel: all three stage windows share ONE user_id exchange") {
    // the final 4-count rollup's singlepartition exchange is bounded
    // (one row after partial agg) — only the corpus-scale window
    // partitioning is under test
    val plan = planText(graft.analytics.EventsQueries.funnel(spark, sf))
    val userExchanges =
      "exchange hashpartitioning\\(user_id#\\d+l?, \\d+\\)".r
        .findAllIn(plan).size
    assert(userExchanges <= 1,
      s"stage windows must reuse one (user_id) partitioning:\n$plan")
  }

  test("q89 pushes each side's sub-disjunction below the join into its scan") {
    val df = graft.analytics.Analytics.promoDisjunctionRevenue(spark, sf)
    val plan = planText(df)
    // the part side must scan with the brand/size OR already applied
    // (extracted from the cross-side disjunction), lineitem with the
    // derived quantity bounds — not post-join filtering of full scans
    val pushed = "pushedfilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    assert(pushed.exists(p => p.contains("or(") && p.contains("p_brand")),
      s"part scan lost the OR pushdown:\n$plan")
    assert(pushed.exists(p => p.contains("or(") && p.contains("l_quantity")),
      s"lineitem scan lost the derived quantity pushdown:\n$plan")
    assert(plan.contains("broadcasthashjoin"), s"plan:\n$plan")
  }

  test("q91 heavy hitters: candidate screen collapses to one summary row, " +
      "exact pass joins broadcast") {
    val df = graft.llm.LlmQueries.heavyHitters(spark, sf)
    val plan = planText(df)
    assert(plan.contains("misra_gries"), s"native sketch missing:\n$plan")
    assert(plan.contains("broadcasthashjoin"),
      s"candidate set must broadcast into the exact pass:\n$plan")
  }

  test("q96 naive BETWEEN join is auto-rewritten: no nested-loop, no cartesian") {
    val df = graft.analytics.EventsQueries.platformClickPressure(spark, sf)
    val plan = planText(df)
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(plan.contains("explode"), s"bucketization missing:\n$plan")
  }

  test("q98 same join plans as the physical broadcast range join") {
    val df = graft.analytics.EventsQueries
      .platformClickPressureBroadcast(spark, sf)
    val plan = planText(df)
    assert(plan.contains("broadcastrangejoin"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q104 bloom decontamination: corpus probe is filtered BELOW the verify join") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val df = graft.llm.LlmQueries.bloomDecontaminate(spark, sf)
    assert(!planText(df).contains("cartesianproduct"))
    val lp = df.queryExecution.optimizedPlan
    // positional: SOME join must have the native might_contain filter in
    // a CHILD subtree (prefilter); a probe only above every join would
    // be the postfilter regression this guard exists to catch. The probe
    // must also be the codegen'd Catalyst expression — a ScalaUDF here
    // is the interpreted regression r8 removed.
    def hasBloomFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case f: LFilter
        if f.condition.find(_.isInstanceOf[BloomFilterMightContain]).isDefined => f
      }.nonEmpty
    val prefiltered = lp.collect {
      case j: LJoin if hasBloomFilter(j.left) || hasBloomFilter(j.right) => j
    }
    assert(prefiltered.nonEmpty, s"bloom probe not below any join:\n$lp")
    assert(lp.collect { case f: LFilter
      if f.condition.find(_.isInstanceOf[ScalaUDF]).isDefined => f }.isEmpty,
      "bloom probe regressed to a ScalaUDF")
  }

  test("q105 shared-span search joins on gram text — never cartesian") {
    val plan = planText(graft.llm.LlmQueries.longestSharedSpans(spark, sf))
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    assert(!plan.contains("broadcastnestedloopjoin"), s"plan:\n$plan")
  }

  test("q112 prototype eval broadcasts the centroid table; one embeddings scan per stage") {
    val df = graft.llm.LlmQueries.prototypeConfusion(spark, sf)
    val plan = planText(df)
    assert(plan.contains("broadcast"), s"centroids not broadcast:\n$plan")
    // the centroid cross IS a broadcast nested loop BY DESIGN (|labels|
    // rows broadcast against the corpus — the kmeans assignTo shape);
    // what must never appear is a shuffled CartesianProduct
    assert(!plan.contains("cartesianproduct"), s"plan:\n$plan")
    // corpus side scans embeddings at most twice (centroid build + assign)
    assert(scanCount(df, "embeddings") <= 2, "embeddings scan fan-out")
  }

  test("q116 approx profile plans WITHOUT the Expand the exact profile pays") {
    val approx = graft.analytics.WarehouseQueries.profileOrdersApprox(spark, sf)
    assert(!planText(approx).contains("expand"))
    val exact = graft.analytics.WarehouseQueries.profileOrders(spark, sf)
    assert(planText(exact).contains("expand")) // the contrast that motivates q116
  }

  // The eager-aggregation queries, planned (never run) at both test
  // scales, so a plan change that appears only above some table size
  // still shows here. A rule that stands down keeps the answer and
  // costs only time, so nothing but these specs catches it.
  private val testdata = sf.stripSuffix("/sf0.001")
  private val eagerQueries = Seq("q237_eager_agg_join",
    "q238_eager_distinct_sqltext", "q240_eager_left_outer",
    "q241_eager_avg_join")

  for (scale <- Seq("sf0.01", "sf0.1"); q <- eagerQueries)
    test(s"$q pushes its partial aggregate below the join at $scale") {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join}
      val plan = SparkEntry.queries(q)(spark, s"$testdata/$scale")
        .queryExecution.optimizedPlan
      val pushed = plan.collect { case j: Join =>
        j.children.exists(_.collectFirst { case a: Aggregate => a }.isDefined)
      }.exists(identity)
      assert(pushed, s"eager aggregation did not push below the join:\n$plan")
      // q238: every distinct Expand runs over pre-shrunk rows
      val expandsShrunk = plan.collect { case e: Expand =>
        e.child.collectFirst { case a: Aggregate => a }.isDefined
      }.forall(identity)
      assert(expandsShrunk,
        s"a distinct Expand still runs over fact-grain rows:\n$plan")
    }

  test("q67/q71/q72 join-back statistics stay equi-join (never cartesian)") {
    Seq(
      "q67" -> graft.llm.LlmQueries.dupNgrams(spark, sf),
      "q71" -> graft.llm.LlmQueries.minhashJaccardEst(spark, sf),
      "q72" -> graft.llm.LlmQueries.wordRarity(spark, sf)).foreach {
      case (name, df) =>
        val plan = planText(df)
        assert(!plan.contains("cartesianproduct"), s"$name plan:\n$plan")
        // the materialize hook must collapse the shared gram/signature
        // subplan to one corpus scan (0 = checkpoint leaf replaced it)
        assert(scanCount(df, "documents") <= 1,
          s"$name recomputes the dominant corpus scan per branch")
    }
  }
}
