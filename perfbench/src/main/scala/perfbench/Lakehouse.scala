package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes beside reads on one merge-on-read table of the `graft-jsonl`
  * connector: point lookups by key, small MERGE INTO upserts, DELETEs by
  * key set, and a compaction every few writes, closed-loop from one
  * client. A shadow key -> row model checks every lookup and, at the
  * end, the whole table. */
object Lakehouse {

  final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
                            priority: String)

  val Table = "lake.lh.orders"
  /** The timed loop runs whole rounds of this fixed op sequence, so every
    * run and seed times the same mix (a compaction, then six writes among
    * fourteen lookups); the seed picks keys and values. The mix is an
    * assumption, not a measured one: perfbench/README.md gives the
    * reasons. A round ends with writes, so the table a run leaves holds
    * what six writes add between compactions. */
  val Cycle: Seq[String] = Seq("lookup", "upsert", "lookup", "lookup", "delete",
    "lookup", "upsert", "lookup", "lookup", "lookup")
  val Round: Seq[String] = "compact" +: (Cycle ++ Cycle)
  val UpsertBatch = 20
  val DeleteBatch = 5
  /** A round takes about 3 s on 4 cores; a run times at least two. */
  val NominalRoundSeconds = 3.0
  val MinRounds = 2

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  private def toRow(r: OrderRow) = Row(r.key, r.cust, r.status, r.price, r.priority)

  private def fromRow(r: Row) =
    OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))

  def run(spark: SparkSession, args: Args, tracer: Tracer, out: Outcome): Unit = {
    val root = args.work.resolve("lake")
    val tableDir = root.resolve("lh").resolve("orders").toFile
    val ordersPath = args.data.resolve("orders.parquet").toString
    spark.conf.set("spark.sql.catalog.lake", "graft.sources.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lake.root", root.toString)

    // the shadow model is the benchmark's own input, not set-up
    val shadow = mutable.Map[Long, OrderRow]()
    spark.read.parquet(ordersPath)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().foreach(r => shadow(r.getLong(0)) = fromRow(r))
    out.inputs("orders_rows") = shadow.size

    val rnd = new Random(args.seed)
    var nextKey = shadow.keys.max + 1
    val everSeen = mutable.ArrayBuffer[Long](shadow.keys.toSeq.sorted: _*)
    val kinds = mutable.Map[String, Int]().withDefaultValue(0)
    val lookupFiles = mutable.ArrayBuffer[Long]()
    var lookupRows = 0L
    var compactBytes = 0L
    var compacts = 0
    var perturbPending = args.perturb.contains("lake_shadow")

    /** Runs and checks one op; returns its wall seconds and whether it
      * succeeded. */
    def runOp(kind: String, traced: Boolean): (Double, Boolean) = {
      val before = if (traced) Disk.snapshot(tableDir) else Map.empty[String, (Long, Long)]
      out.attempted += 1
      kind match {
        case "lookup" =>
          val k = if (perturbPending) shadow.keys.min else everSeen(rnd.nextInt(everSeen.size))
          if (perturbPending) {
            shadow(k) = shadow(k).copy(price = shadow(k).price + 0.01)
            perturbPending = false
          }
          val (res, secs) = tracer.op("op.lake", traced) {
            try {
              Right(tracer.span("dsv2.lookup") {
                val df = spark.sql(s"SELECT * FROM $Table WHERE o_orderkey = $k")
                (df.collect().toSeq.map(fromRow), df.queryExecution.executedPlan)
              })
            } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
          }
          val ok = res match {
            case Left(err) =>
              out.fail(s"lookup $k: $err", wrongAnswer = false)
              false
            case Right((rows, plan)) =>
              if (traced) {
                lookupFiles += Tracer.filesRead(plan)
                lookupRows += rows.size
              }
              val right = rows == shadow.get(k).toSeq
              if (!right)
                out.fail(s"lookup $k: got $rows, expected ${shadow.get(k)}", wrongAnswer = true)
              right
          }
          (secs, ok)
        case "upsert" =>
          val live = shadow.keys.toIndexedSeq
          val updates = (1 to UpsertBatch * 3 / 4).map { _ =>
            val old = shadow(live(rnd.nextInt(live.size)))
            old.copy(status = Seq("F", "O", "P")(rnd.nextInt(3)),
              price = math.round(rnd.nextDouble() * 49900000 + 100000) / 100.0)
          }.groupBy(_.key).values.map(_.last).toSeq
          val inserts = (1 to UpsertBatch / 4).map { _ =>
            nextKey += 1
            OrderRow(nextKey, rnd.nextInt(1500).toLong, "O",
              math.round(rnd.nextDouble() * 49900000 + 100000) / 100.0, "3-MEDIUM")
          }
          val batch = updates ++ inserts
          spark.createDataFrame(java.util.Arrays.asList(batch.map(toRow): _*), schema)
            .createOrReplaceTempView("perfbench_upsert")
          val (res, secs) = tracer.op("op.lake", traced) {
            try {
              tracer.span("dsv2.upsert")(spark.sql(
                s"""MERGE INTO $Table t USING perfbench_upsert s
                   |ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
              None
            } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
          }
          res match {
            case Some(err) => out.fail(s"upsert: $err", wrongAnswer = false)
            case None =>
              batch.foreach(r => shadow(r.key) = r)
              everSeen ++= inserts.map(_.key)
          }
          (secs, res.isEmpty)
        case "delete" =>
          val live = shadow.keys.toIndexedSeq
          val keys = Seq.fill(DeleteBatch)(live(rnd.nextInt(live.size))).distinct
          val (res, secs) = tracer.op("op.lake", traced) {
            try {
              tracer.span("dsv2.delete")(spark.sql(
                s"DELETE FROM $Table WHERE o_orderkey IN (${keys.mkString(", ")})").collect())
              None
            } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
          }
          res match {
            case Some(err) => out.fail(s"delete: $err", wrongAnswer = false)
            case None => keys.foreach(shadow.remove)
          }
          (secs, res.isEmpty)
        case "compact" =>
          val (res, secs) = tracer.op("op.lake", traced) {
            try {
              tracer.span("dsv2.compact")(
                spark.sql("CALL lake.system.compact('lh.orders')").collect())
              None
            } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
          }
          res.foreach(err => out.fail(s"compact: $err", wrongAnswer = false))
          if (traced) {
            compactBytes += Disk.added(before, Disk.snapshot(tableDir))._2
            compacts += 1
          }
          (secs, res.isEmpty)
      }
    }

    // set-up: the CTAS, then one untimed round so the timed loop starts
    // on warm code paths
    val s0 = System.nanoTime()
    spark.sql("CREATE NAMESPACE lake.lh")
    spark.sql(
      s"""CREATE TABLE $Table
         |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read',
         |  'graft.skip.columns'='o_orderkey')
         |AS SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */
         |  o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         |FROM parquet.`$ordersPath`""".stripMargin)
    Round.foreach(k => runOp(k, traced = false))
    out.setupSeconds = (System.nanoTime() - s0) / 1e9

    val start = System.nanoTime()
    for (round <- 0 until args.rounds(NominalRoundSeconds, MinRounds)) {
      val traced = args.traced(round)
      Round.foreach { kind =>
        val (secs, ok) = runOp(kind, traced)
        out.record(kind, secs, round, traced, ok)
        kinds(kind) += 1
      }
    }
    out.measuredSeconds = (System.nanoTime() - start) / 1e9

    // final state: the whole table must equal the shadow model
    out.attempted += 1
    try {
      val all = spark.sql(s"SELECT * FROM $Table").collect().map(fromRow)
      val got = all.map(r => r.key -> r).toMap
      if (all.length != got.size || got != shadow.toMap)
        out.fail(s"final table: ${all.length} rows vs ${shadow.size} in the shadow model",
          wrongAnswer = true)
    } catch { case e: Throwable => out.fail(s"final scan: ${e.getMessage}", wrongAnswer = false) }

    out.artifacts("op_mix") = kinds.toMap
    out.inputs("final_rows") = shadow.size
    if (args.trace) {
      org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
      val recordsRead = tracer.counters.bySpan.filter { case (id, _) =>
        tracer.spans(id).name == "dsv2.lookup" }.values.map(_.recordsRead).sum
      out.extra("dsv2.lookup.files_read") =
        if (lookupFiles.isEmpty) 0.0 else lookupFiles.sum.toDouble / lookupFiles.size
      out.extra("dsv2.lookup.rows_scanned_per_row") =
        recordsRead.toDouble / math.max(1L, lookupRows)
      out.extra("dsv2.compact.bytes_rewritten") =
        if (compacts == 0) 0.0 else compactBytes.toDouble / compacts
      // space amplification: table bytes at the end of the run over its
      // bytes after a final, untimed compaction of every shard
      def tableBytes = Disk.snapshot(tableDir).values.map(_._1).sum
      val atEnd = tableBytes
      spark.sql("CALL lake.system.compact('lh.orders', 0)").collect()
      out.extra("dsv2.space_amp") = atEnd.toDouble / math.max(1L, tableBytes)
    }
  }
}
