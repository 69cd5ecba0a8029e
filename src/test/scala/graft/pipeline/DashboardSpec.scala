package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, DriverScan, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.types.LongType

/** The dashboard reads over Catalog-read Silver tables: small tables are
  * decoded on the driver ([[DriverScan]]) with the same rows a file scan
  * returns, and the filter-and-project shapes collect without a job.
  */
class DashboardSpec extends SparkSpec {
  import PipelineFixtures._

  /** A Silver warehouse of two loads per dataset: the shared fixtures,
    * then a second file per dataset with more rows (null coordinates
    * included).
    */
  private lazy val root = {
    val root = Files.createTempDirectory("graft_dash_wh").toString
    val land = Files.createTempDirectory("graft_dash_land").toString
    val cat = new Catalog(spark, root)
    val ing = new Ingestion(cat)
    val sil = new SilverTransforms(cat)
    seedFixtures(land)
    ing.ingestAll(configFor(land))
    write(land, "transactions_2.csv",
      """country,date,name,type,amount,comments
        |Japan,2026-02-21,Sushi,Food,45.10,Lunch
        |Japan,2026-02-21,Hotel Kyoto,Hotel,310.33,
        |Japan,2026-02-22,Shinkansen,Travel,0.1,fare
        |""".stripMargin)
    write(land, "manual_logs_2.csv",
      """day,date,flag,country,city,description,comments,food,travel,hotel
        |3,2026-02-21,0.0,Japan,Kyoto,Temples,,Sushi,Train,Kyoto
        |""".stripMargin)
    write(land, "timeline_2.json",
      """{ "semanticSegments": [
        |  { "startTime": "2026-02-21T02:00:00", "endTime": "2026-02-21T03:30:00",
        |    "visit": { "probability": 0.71,
        |      "topCandidate": { "placeId": "ChIJ777",
        |        "placeLocation": { "latLng": "35.0116° , 135.7681°" } } } },
        |  { "startTime": "2026-02-21T23:30:00", "endTime": "2026-02-22T00:15:00",
        |    "activity": { "distanceMeters": 512.25,
        |      "topCandidate": { "type": "IN_BUS", "probability": 0.6 },
        |      "start": { "latLng": "35.01°, 135.76°" },
        |      "end":   { "latLng": "35.02°, 135.77°" } } },
        |  { "startTime": "2026-02-22T08:00:00", "endTime": "2026-02-22T09:00:00",
        |    "activity": { "distanceMeters": 90.5,
        |      "topCandidate": { "type": "WALKING", "probability": 0.9 },
        |      "start": { "latLng": "35.02°, 135.77°" },
        |      "end": "nowhere" } }
        |] }
        |""".stripMargin)
    ing.ingestAll(configFor(land))
    sil.runAll()
    root
  }

  /** A new session over the shared context with `conf` set, and a Catalog
    * over the warehouse in it.
    */
  private def catalogWith(conf: (String, String)*): Catalog = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    new Catalog(s, root)
  }

  private val scanned = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** The ten query shapes the dashboard serves (the benchmark's). */
  private val shapes: Seq[(String, String, (DataFrame, String, String) => DataFrame)] = Seq(
    ("visits", "timeline_segments", Dashboard.visits),
    ("movements", "timeline_segments", Dashboard.movements),
    ("logs", "manual_logs", Dashboard.logs),
    ("transactions", "transactions", Dashboard.transactions),
    ("flights", "flight_logs", Dashboard.flights),
    ("sleep", "sleep_scores", Dashboard.sleep),
    ("dailySteps", "steps_hourly", Dashboard.dailySteps),
    ("spendByType", "transactions", Dashboard.spendByType),
    ("topTransactions", "transactions", Dashboard.topTransactions(_, _, _)),
    ("distanceByMode", "timeline_segments", Dashboard.distanceByMode))
  private val filters = shapes.take(6)

  private val ranges = Seq(("2026-02-18", "2026-02-22"), ("2026-02-19", "2026-02-19"),
    ("2026-02-21", "2026-02-22"), ("2026-03-01", "2026-03-31"))

  private def bag(rows: Array[Row]): Map[Row, Int] =
    rows.toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def call(cat: Catalog, shape: Int, range: (String, String)): Array[Row] = {
    val (_, table, q) = shapes(shape)
    q(cat.read("silver", table), range._1, range._2).collect()
  }

  test("every dashboard shape returns the same rows decoded on the driver " +
      "as scanned, and dailySummary the same document") {
    val (driver, scan) = (catalogWith(), catalogWith(scanned))
    for (i <- shapes.indices; r <- ranges) {
      val (a, b) = (call(driver, i, r), call(scan, i, r))
      assert(bag(a) == bag(b), s"${shapes(i)._1} over $r")
    }
    // the shapes see data: every one returns rows over the whole range
    shapes.indices.foreach(i =>
      assert(call(driver, i, ranges.head).nonEmpty, shapes(i)._1))
    def summary(c: Catalog, d: String) = {
      def s(t: String) = c.read("silver", t)
      Gold.dailySummary(d, s("daily_spend"), s("steps_hourly"),
        s("sleep_scores"), s("manual_logs"), s("flight_logs"),
        s("timeline_segments"))
    }
    Seq("2026-02-19", "2026-02-21", "2026-03-01").foreach(d =>
      assert(summary(driver, d) == summary(scan, d), d))
  }

  test("visits and movements match the scan under a non-UTC session time zone") {
    val tz = "spark.sql.session.timeZone" -> "America/Los_Angeles"
    val (driver, scan) = (catalogWith(tz), catalogWith(tz, scanned))
    val utc = catalogWith()
    for (i <- Seq(0, 1, 9); r <- ranges)
      assert(bag(call(driver, i, r)) == bag(call(scan, i, r)), s"${shapes(i)._1} over $r")
    // the zone matters: the 02:00 UTC visit of 2026-02-21 falls on
    // 2026-02-20 in Los Angeles
    val day = ("2026-02-21", "2026-02-21")
    assert(call(driver, 0, day).length != call(utc, 0, day).length)
  }

  test("null coordinates and the BIGINT load_id partition column survive " +
      "the driver decode") {
    val cat = catalogWith()
    val table = cat.read("silver", "timeline_segments")
    val local = DriverScan(table)
    assert(!(local eq table))
    assert(local.schema == table.schema)
    assert(local.schema("load_id").dataType == LongType)
    val (a, b) = (local.collect(), catalogWith(scanned).read("silver",
      "timeline_segments").collect())
    assert(bag(a) == bag(b))
    assert(a.map(_.getAs[Long]("load_id")).distinct.length == 2)
    assert(a.exists(r => r.getAs[String]("segment_type") == "VISIT" &&
      r.isNullAt(r.fieldIndex("visit_latitude"))))
    assert(a.exists(r => r.getAs[String]("segment_type") == "ACTIVITY" &&
      r.isNullAt(r.fieldIndex("end_latitude"))))
  }

  test("the six filter shapes collect without a Spark job") {
    val cat = catalogWith()
    var rows = 0
    val jobs = jobsByPhase { label =>
      label("filter")
      for (i <- filters.indices; r <- ranges) rows += call(cat, i, r).length
      label("rollup")
      for (i <- shapes.indices.drop(filters.size)) call(cat, i, ranges.head)
    }
    assert(rows > 0)
    assert(jobs.getOrElse("filter", 0) == 0, jobs.toString)
    info(s"jobs over ${shapes.size - filters.size} rollup and top-k calls: " +
      jobs.getOrElse("rollup", 0))
  }

  test("a table over the size threshold keeps its file scan") {
    def plan(cat: Catalog) =
      Dashboard.visits(cat.read("silver", "timeline_segments"),
        "2026-02-18", "2026-02-22").queryExecution.executedPlan
    val p = plan(catalogWith())
    assert(p.collect { case s: FileSourceScanExec => s }.isEmpty, p)
    assert(p.collect { case s: LocalTableScanExec => s }.nonEmpty, p)
    // one byte: every table is over it
    val big = catalogWith("spark.sql.autoBroadcastJoinThreshold" -> "1")
    val table = big.read("silver", "timeline_segments")
    assert(DriverScan(table) eq table)
    val q = plan(big)
    assert(q.collect { case s: FileSourceScanExec => s }.nonEmpty, q)
  }

  test("a file deleted after the read was built fails the call, as a scan " +
      "fails") {
    import spark.implicits._
    val cat = new Catalog(spark, Files.createTempDirectory("graft_dash_gone").toString)
    cat.overwrite(Seq(("2026-02-19", 1.5)).toDF("log_date", "v"), "silver", "gone")
    val s = spark.newSession()
    s.conf.set(scanned._1, scanned._2)
    val driver = cat.read("silver", "gone")
    val scan = new Catalog(s, cat.root).read("silver", "gone")
    val dir = new java.io.File(cat.path("silver", "gone"))
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    intercept[Exception](Dashboard.logs(driver, "2026-02-19", "2026-02-19").collect())
    intercept[Exception](Dashboard.logs(scan, "2026-02-19", "2026-02-19").collect())
  }

  test("a DataFrame that reads no file comes back as itself") {
    import spark.implicits._
    val range = spark.range(3).toDF()
    val local = Seq((1L, "a")).toDF("id", "v")
    assert(DriverScan(range) eq range)
    assert(DriverScan(local) eq local)
    val joined = range.join(local, "id")
    assert(DriverScan(joined) eq joined)
  }
}
