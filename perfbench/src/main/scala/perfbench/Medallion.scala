package perfbench

import java.io.File
import java.nio.file.Files
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ingest.IngestionState
import graft.sources.{LarkClient, LarkPage, LarkSource, LarkTableInfo}
import graft.warehouse.{BronzeSchemas, Pipeline}

/** Seeded Lark base for the medallion workload: the five source tables
  * of FIXTURES.md section A, advanced one day at a time. Employees and
  * vendors are edited in place (Lark keeps the latest version, stamped
  * with `Last Modified Date`); attendance, attendance records and
  * payments only grow and carry no watermark field, so they land in
  * full every day, as in the reference. The generator keeps the truth
  * the checks need: every version's change time per natural key and
  * the cumulative row counts. */
final class LarkWorld(seed: Long) {
  import LarkWorld._

  private val rnd = new Random(seed)
  val employees = mutable.LinkedHashMap[String, Seq[(String, String)]]()
  val vendors = mutable.LinkedHashMap[String, Seq[(String, String)]]()
  val attendance = mutable.ArrayBuffer[Seq[(String, String)]]()
  val attendanceRecords = mutable.ArrayBuffer[Seq[(String, String)]]()
  val payments = mutable.ArrayBuffer[Seq[(String, String)]]()
  /** natural key -> change time (epoch ms) of every version, oldest first */
  val empVersions = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
  val venVersions = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
  private var junkEmployee: Seq[(String, String)] = Nil

  def dayStart(day: Int): Long =
    Base.plusDays(day).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def lmd(day: Int): Long = dayStart(day) + 3600000L + rnd.nextInt(19 * 3600) * 1000L
  private def epochText(ms: Long): String = if (rnd.nextBoolean()) s"$ms.0" else ms.toString
  private def larkId(i: Int) = f"ou_e$i%04d"
  private def person(i: Int) = s"Person $i"

  private def employee(i: Int, ts: Long): Seq[(String, String)] = Seq(
    "user_id" -> f"E$i%04d", "employee_no" -> f"$i%04d", "name" -> "raw-ignored",
    "user" -> s"[{'id': '${larkId(i)}', 'name': '${person(i)}'}]",
    "employee_type" -> pick(Seq("full", "part", "intern")),
    "email" -> s"e$i@x.vn", "mobile" -> f"09$i%08d",
    "department_ids" -> s"['od_${rnd.nextInt(5)}', 'od_${5 + rnd.nextInt(5)}']",
    "departments" -> pick(Seq("Eng", "Ops", "Sales", "HR")),
    "leader" -> (if (i % 7 == 0 || i < 3) "" else
      s"[{'id': '${larkId(i % 3)}', 'name': '${person(i % 3)}'}]"),
    "join_time" -> epochText(1577836800000L + rnd.nextInt(1500) * 86400000L),
    "job_title" -> pick(Titles), "city" -> pick(Seq("HN", "HCM", "DN")),
    "gender" -> pick(Seq("M", "F")), "Parent items" -> "",
    "Created By" -> "sys", "Modified By" -> "sys",
    "Date Created" -> epochText(1714521600000L), "Last Modified Date" -> ts.toString)

  private def vendor(i: Int, ts: Long): Seq[(String, String)] = Seq(
    "Vendor" -> s"[{'text': 'VENDOR-$i'}]",
    "Tên tài khoản" -> s"Cty $i ${pick(Seq("JSC", "LLC", "Co"))}",
    "Số tài khoản" -> s"$i-${rnd.nextInt(1000)}", "Ngân hàng" -> pick(Seq("VCB", "TCB", "ACB")),
    "QR code" -> "", "Ghi chú" -> pick(Seq("", "note", "prepaid")),
    "Date Created" -> "1714521600000", "Last Modified Date" -> ts.toString)

  private def penalty(): String = pick(Seq("[{'text': 50000}]", "20000.0", "0", "junk", ""))

  private def attendanceRow(day: Int, emp: Int, n: Int): Seq[(String, String)] = {
    val d = dayStart(day)
    val in = d + 3600000L + rnd.nextInt(7200) * 1000L
    val out = if (rnd.nextInt(10) == 0) "" else epochText(d + 36000000L + rnd.nextInt(7200) * 1000L)
    Seq("User id" -> f"E$emp%04d", "Result id" -> s"A$day-$n", "Date" -> epochText(d),
      "Employee" -> person(emp), "Group name" -> "G1", "Shift name" -> "S1",
      "Check in record id" -> s"ci$day-$n", "Check in time" -> epochText(in),
      "Check in shift time" -> epochText(d + 28800000L),
      "Check in location name" -> "HQ", "Check in - Is offsite" -> pick(Seq("False", "True", "")),
      "Check in type" -> "gps", "Check in result" -> "ok", "Check in result supplement" -> "",
      "Check out record id" -> s"co$day-$n", "Check out time" -> out,
      "Check out shift time" -> epochText(d + 63000000L),
      "Check out location name" -> "HQ", "Check out - Is offsite" -> "False",
      "Check out type" -> "gps", "Check out result" -> "ok", "Check out result supplement" -> "",
      "Employee type" -> "full", "Nhân sự không đồng ý phiếu phạt" -> "False",
      "Đi muộn / về sớm" -> pick(Seq("True", "False")), "Muộn 20p/sớm 20p" -> "False",
      "Giá phạt đi muộn/ về sớm" -> penalty(), "Phạt muộn 20p/sớm 20p" -> penalty(),
      "Tiền phạt" -> penalty(), "Lý do" -> pick(Seq("", "tac duong", "om")))
  }

  private def recordRow(day: Int, emp: Int, n: Int): Seq[(String, String)] = Seq(
    "User id" -> f"E$emp%04d", "Record id" -> s"R$day-$n", "Date" -> dayStart(day).toString,
    "Employee" -> person(emp), "Check time" -> (dayStart(day) + rnd.nextInt(36000) * 1000L).toString,
    "Check location name" -> "HQ", "Is offsite" -> pick(Seq("True", "False")))

  private def paymentRow(day: Int, n: Int): Seq[(String, String)] = {
    val unit = 10000 * (1 + rnd.nextInt(50))
    val qty = 1 + rnd.nextInt(5)
    val buyer = pick(employees.keys.toSeq).drop(1).toInt
    Seq("Payment_ID" -> s"[{'text': 'PAY-$day-$n'}]",
      "Payment" -> s"[{'text': 'Mua hang $n'}]",
      "Loại chi phí" -> s"['${pick(Seq("Văn phòng phẩm", "Thuê ngoài", "Đi lại"))}']",
      "Ngày mua" -> (dayStart(day) + rnd.nextInt(36000) * 1000L).toString,
      "Tên dự án" -> pick(Seq("P1", "P2", "")), "Hàng hóa" -> "goods",
      "Đơn giá" -> unit.toString, "Số lượng" -> qty.toString,
      "Tổng tiền" -> (if (rnd.nextBoolean()) s"[{'text': ${unit * qty}}]" else (unit * qty).toString),
      "Hóa đơn" -> "", "Minh chứng chuyển khoản" -> "",
      "Thông tin người cần chuyển khoản" -> s"[{'text': 'VENDOR-${rnd.nextInt(vendors.size + 3)}'}]",
      "Số tài khoản" -> "", "Ngân hàng" -> "",
      "Người mua" -> s"{'id': '${larkId(buyer)}', 'name': '${person(buyer)}'}",
      "Ghi chú" -> "", "CEO duyệt" -> pick(Seq("True", "False")),
      "Kế toán đã thanh toán" -> "False", "Người mua đã nhận được tiền" -> "False",
      "Ngày CEO duyệt" -> "", "Ngày kế toán chuyển khoản" -> "", "Ngày người mua nhận tiền" -> "")
  }

  /** Applies one day of source activity: day 0 creates the base tables,
    * later days edit a seeded share of employees and vendors, add a few
    * of each, and append the day's attendance and payments. */
  def advance(day: Int): Unit = {
    def addEmployee(i: Int, ts: Long): Unit = {
      employees(f"E$i%04d") = employee(i, ts)
      empVersions.getOrElseUpdate(f"E$i%04d", mutable.ArrayBuffer()) += ts
    }
    def addVendor(i: Int, ts: Long): Unit = {
      vendors(s"VENDOR-$i") = vendor(i, ts)
      venVersions.getOrElseUpdate(s"VENDOR-$i", mutable.ArrayBuffer()) += ts
    }
    if (day == 0) {
      (0 until Employees).foreach(i => addEmployee(i, lmd(0)))
      (0 until Vendors).foreach(i => addVendor(i, lmd(0)))
      // a row with no natural key: lands on day 0 and is dropped at bronze
      junkEmployee = employee(9999, lmd(0)).map {
        case ("user_id", _) => "user_id" -> ""
        case kv => kv
      }
    } else {
      rnd.shuffle(employees.keys.toSeq).take((employees.size * Churn).toInt)
        .foreach(k => addEmployee(k.drop(1).toInt, lmd(day)))
      rnd.shuffle(vendors.keys.toSeq).take(math.max(1, (vendors.size * Churn).toInt))
        .foreach(k => addVendor(k.stripPrefix("VENDOR-").toInt, lmd(day)))
      (0 until NewEmployees).foreach(_ => addEmployee(employees.size, lmd(day)))
      addVendor(vendors.size, lmd(day))
    }
    val present = employees.keys.toSeq.filter(_ => rnd.nextDouble() < Attendance)
    present.zipWithIndex.foreach { case (k, n) =>
      attendance += attendanceRow(day, k.drop(1).toInt, n)
      attendanceRecords += recordRow(day, k.drop(1).toInt, n)
    }
    (0 until PaymentsPerDay).foreach(n => payments += paymentRow(day, n))
  }

  /** Rows of the tables that land in full every day, as of today. */
  def counts: Map[String, Int] = Map("attendance" -> attendance.size,
    "attendance_record" -> attendanceRecords.size, "payment" -> payments.size)

  /** The rows each table serves today, in a stable order. */
  def served(table: String): IndexedSeq[Seq[(String, String)]] = table match {
    case "employee" => (junkEmployee +: employees.values.toSeq).toIndexedSeq
    case "vendor" => vendors.values.toIndexedSeq
    case "attendance" => attendance.toIndexedSeq
    case "attendance_record" => attendanceRecords.toIndexedSeq
    case "payment" => payments.toIndexedSeq
  }
}

/** The volumes below are assumptions, not measurements: the reference
  * publishes no row counts or change rates (BASELINE.md). They are kept
  * small because a day's refresh cost is dominated by its fixed number
  * of Spark jobs, not by its rows; perfbench/README.md gives the reason
  * for each. */
object LarkWorld {
  val Base: LocalDate = LocalDate.of(2024, 6, 1)
  val Employees = 120
  val Vendors = 30
  val Churn = 0.1
  val NewEmployees = 3
  val Attendance = 0.8
  val PaymentsPerDay = 8
  val Titles = Seq("Engineer", "Senior Engineer", "Analyst", "Operator", "Lead")
}

/** A Lark Bitable served from memory, page by page, counting every
  * record it hands out. */
final class MemoryLarkClient(world: LarkWorld, pageSize: Int) extends LarkClient {
  private val byId = BronzeSchemas.tableIds.map(_.swap)
  private var snapshot = Map.empty[String, IndexedSeq[Seq[(String, String)]]]
  var fetched = 0L

  def tablesPage(pageToken: Option[String]): LarkPage[LarkTableInfo] =
    LarkPage(BronzeSchemas.tableIds.toSeq.map { case (n, id) => LarkTableInfo(id, n) },
      None, hasMore = false)

  def recordsPage(tableId: String, pageToken: Option[String]): LarkPage[Seq[(String, String)]] = {
    // a listing reads one consistent snapshot, fixed at its first page
    if (pageToken.isEmpty) snapshot += tableId -> world.served(byId(tableId))
    val rows = snapshot(tableId)
    val from = pageToken.fold(0)(_.toInt)
    val page = rows.slice(from, from + pageSize)
    fetched += page.size
    val next = from + page.size
    LarkPage(page, if (next < rows.size) Some(next.toString) else None, next < rows.size)
  }
}

/** The paper's own job: each op is one day's refresh, from the first
  * page fetch of incremental Lark ingestion to the gold cube written.
  * After the run the lake is checked against the generator's truth. */
object Medallion {

  val Tables: Seq[String] = Seq("employee", "vendor", "attendance", "attendance_record", "payment")
  /** Records per page: the reference's default Lark API page size
    * (BASELINE.md, `lark_api_page_size`). */
  val PageSize = 20
  /** A day's refresh takes about 10 s on 4 cores; a run times at least
    * three days. */
  val NominalDaySeconds = 10.0
  val MinDays = 3

  def run(spark: SparkSession, args: Args, tracer: Tracer, out: Outcome): Unit = {
    val world = new LarkWorld(args.seed)
    val client = new MemoryLarkClient(world, PageSize)
    val landing = args.work.resolve("landing").toString
    val lake = args.work.resolve("lake")
    val state = new IngestionState(args.work.resolve("ingest_state.json").toString)
    val pipe = new Pipeline(spark, landing, lake.toString)

    def refresh(day: Int): Seq[String] = {
      val date = LarkWorld.Base.plusDays(day)
      val landed = Tables.flatMap { t =>
        tracer.span("sources.lark.ingest")(LarkSource.ingestIncremental(
          client, state, BronzeSchemas.tableIds(t), landing, date, spark))
      }
      val p = date.toString
      tracer.span("warehouse.bronze")(pipe.runBronze(p))
      tracer.span("warehouse.silver")(pipe.runSilver(p))
      tracer.span("warehouse.gold")(pipe.runGold(p))
      landed
    }

    // set-up: the day-0 backfill
    // per day: the cumulative rows each full-refresh table holds
    val counts = mutable.ArrayBuffer[Map[String, Int]]()
    world.advance(0)
    counts += world.counts
    val s0 = System.nanoTime()
    refresh(0)
    out.setupSeconds = (System.nanoTime() - s0) / 1e9

    // timed loop: a fixed number of incremental days, 1, 2, ...
    var fetched = 0L
    var landedRows = 0L
    var landedBytes = 0L
    var lakeBytes = 0L
    var silverFiles = 0L
    val days = args.rounds(NominalDaySeconds, MinDays)
    val start = System.nanoTime()
    for (day <- 1 to days) {
      val traced = args.traced(day - 1)
      world.advance(day)
      counts += world.counts
      val before = if (traced) Disk.snapshot(lake.toFile) else Map.empty[String, (Long, Long)]
      val fetched0 = client.fetched
      val (res, secs) = tracer.op("op.refresh", traced) {
        try Right(refresh(day)) catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      }
      out.record("refresh", secs, day - 1, traced, ok = res.isRight)
      out.attempted += 1
      res match {
        case Left(err) => out.fail(s"day $day: $err", wrongAnswer = false)
        case Right(landed) if traced =>
          val after = Disk.snapshot(lake.toFile)
          fetched += client.fetched - fetched0
          landed.foreach { p =>
            val f = new File(new java.net.URI(p).getPath)
            landedBytes += f.length
            val lines = Files.lines(f.toPath)
            try landedRows += lines.count() - 1 finally lines.close()
          }
          lakeBytes += Disk.added(before, after)._2
          silverFiles += Disk.added(
            before.filter(_._1.contains("/silver/")), after.filter(_._1.contains("/silver/")))._1
        case Right(_) =>
      }
    }
    out.measuredSeconds = (System.nanoTime() - start) / 1e9
    // one check of the final lake, each error charged to the day whose
    // refresh should have produced the missing or wrong rows, which so
    // fails; the backfill day counts as a checked op too
    out.attempted += 1
    check(pipe, world, counts.toSeq, args.perturb.contains("scd2_expiry"))
      .toSeq.sortBy(_._1).foreach { case (d, errs) =>
        val op = if (d >= 1) out.ops.lift(d - 1) else None
        // a day whose refresh raised is counted already
        if (op.forall(_.ok)) {
          op.foreach(_.ok = false)
          out.fail(s"day $d: ${errs.take(3).mkString("; ")}", wrongAnswer = true)
        }
      }
    out.inputs("days") = days
    out.inputs("employees") = world.empVersions.size
    out.inputs("vendors") = world.venVersions.size
    out.inputs("attendance_rows") = world.attendance.size
    out.inputs("payment_rows") = world.payments.size
    if (args.trace) {
      val n = math.max(1, out.tracedOps).toDouble
      out.extra("sources.lark.records_fetched") = fetched / n
      out.extra("sources.lark.rows_landed") = landedRows / n
      out.extra("sources.lark.landed_ratio") = landedRows.toDouble / math.max(1L, fetched)
      out.extra("warehouse.silver.files_rewritten") = silverFiles / n
      out.extra("warehouse.write_amp") = lakeBytes.toDouble / math.max(1L, landedBytes)
    }
  }

  private def seconds(ts: java.sql.Timestamp): Long = ts.getTime / 1000

  private def dayOf(epochMs: Long): Int =
    ((epochMs - LarkWorld.Base.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli) / 86400000L).toInt

  /** Checks one SCD2 dimension against the generator's versions: every
    * version present, the latest current, each older one expired at the
    * next version's change time. An error is charged to the day of the
    * key's latest version. `perturb` drops one expiry from the rows read
    * back, which the check must refuse. */
  private def checkDim(pipe: Pipeline, table: String, key: String,
                       truth: collection.Map[String, Seq[Long]],
                       perturb: Boolean): Seq[(Int, String)] = {
    var rows = pipe.table("silver", table)
      .select(col(key), col("is_current"), col("datetime_updated"), col("valid_to"))
      .collect().toSeq.map(r => (r.getString(0), r.getBoolean(1),
        seconds(r.getTimestamp(2)), seconds(r.getTimestamp(3))))
    if (perturb) rows.find(!_._2).foreach { victim =>
      rows = rows.map(r => if (r == victim) r.copy(_2 = true) else r)
    }
    val byKey = rows.groupBy(_._1)
    val unexpected = byKey.keySet.diff(truth.keySet).toSeq.map(k => (0, s"$table: unexpected key $k"))
    unexpected ++ truth.toSeq.flatMap { case (k, versions) =>
      val got = byKey.getOrElse(k, Nil)
      val current = got.filter(_._2)
      val expired = got.filterNot(_._2).map(_._4).sorted
      val error =
        if (got.size != versions.size) Some(s"${got.size} versions, expected ${versions.size}")
        else if (current.size != 1) Some(s"${current.size} current rows")
        else if (current.head._3 != versions.last / 1000)
          Some(s"current version changed at ${current.head._3}, expected ${versions.last / 1000}")
        else if (expired != versions.tail.map(_ / 1000))
          Some(s"expired at $expired, expected ${versions.tail.map(_ / 1000)}")
        else None
      error.map(e => (dayOf(versions.last), s"$table $k: $e"))
    }
  }

  /** Checks the lake after the run against the generator's truth: both
    * SCD2 dimensions, and each day's fact and gold partitions against
    * that day's row counts. Returns the errors by day. */
  def check(pipe: Pipeline, world: LarkWorld, counts: Seq[Map[String, Int]],
            perturb: Boolean): Map[Int, Seq[String]] = {
    val errors = mutable.ArrayBuffer[(Int, String)]()
    errors ++= checkDim(pipe, "dim_employee", "user_id",
      world.empVersions.map { case (k, v) => k -> v.toSeq }, perturb)
    errors ++= checkDim(pipe, "dim_vendor", "vendor_id",
      world.venVersions.map { case (k, v) => k -> v.toSeq }, perturb = false)
    Seq(("silver", "fact_attendance", "attendance"),
      ("silver", "fact_attendance_record", "attendance_record"),
      ("silver", "fact_payment", "payment"),
      ("gold", "cube_attendance_report", "attendance")).foreach { case (layer, t, source) =>
      val got = pipe.table(layer, t).groupBy(col("partition_value")).count().collect()
        .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
      counts.zipWithIndex.foreach { case (c, d) =>
        val n = got.getOrElse(LarkWorld.Base.plusDays(d), 0L)
        if (n != c(source)) errors += ((d, s"$layer.$t day $d: $n rows, expected ${c(source)}"))
      }
    }
    errors.groupBy(_._1).map { case (d, es) => d -> es.map(_._2).toSeq }
  }
}
