package graft.pipeline

import graft.SparkSpec
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.Executors
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The local filesystem under a second scheme, `graftalt`, for tests of
  * paths that are not on the default filesystem.
  */
class AltSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftalt:///")
  override def getScheme: String = "graftalt"
}

/** Golden end-to-end medallion test on reference-shaped fixtures
  * (FIXTURES.md §B): CSV/JSON landing → Bronze (audit cols, ledger,
  * idempotent skip) → Silver transforms → Gold reports, including
  * re-upload dedup (W1/W2) and idempotent re-runs.
  */
class PipelineSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import PipelineFixtures._

  private lazy val root = Files.createTempDirectory("graft_wh").toString
  private lazy val landing = Files.createTempDirectory("graft_land").toString
  private lazy val catalog = new Catalog(spark, root)
  private lazy val ingestion = new Ingestion(catalog)
  private lazy val silver = new SilverTransforms(catalog)

  private lazy val config = configFor(landing)

  test("e2e: ingest -> silver -> gold with dedup and idempotency") {
    import spark.implicits._
    seedFixtures(landing)
    val r1 = ingestion.ingestAll(config)
    assert(r1("transactions").size == 1)
    val txRows = catalog.read("bronze", "transactions")
    assert(txRows.count() == 5)
    assert(txRows.columns.contains("_source_file"))

    // idempotent: second run loads nothing
    val r2 = ingestion.ingestAll(config)
    assert(r2.values.forall(_.isEmpty), s"unexpected reloads: $r2")
    assert(catalog.read("bronze", "transactions").count() == 5)

    // silver
    silver.runAll()
    val stx = catalog.read("silver", "transactions")
    assert(stx.where($"type" === "uncategorized").count() == 1)
    assert(stx.where($"name" === "Hotel Tokyo").select("amount")
      .as[Double].head() == 1200.50)
    assert(stx.where($"name" === "Ghost").select("date").head().isNullAt(0))
    // NULL_IF: the literal string "NULL" landed as SQL NULL
    assert(stx.where($"name" === "JR Pass").select("comments").head().isNullAt(0))

    val hrMin = catalog.read("silver", "heart_rate_minute")
    assert(hrMin.count() == 3) // 10:00 (2 readings), 10:01, 11:00
    assert(hrMin.where($"hr_zone" === "Resting").count() == 1) // mean 56
    assert(hrMin.where($"hr_zone" === "High").count() == 1) // 135

    val steps = catalog.read("silver", "steps_hourly")
    assert(steps.count() == 24) // scaffold: 1 date x 24 hours
    assert(steps.where($"hour" === 10).select("steps").as[Long].head() == 750)
    assert(steps.where($"hour" === 3).select("steps").as[Long].head() == 0)

    val segs = catalog.read("silver", "timeline_segments")
    assert(segs.count() == 3) // 4th segment (neither) dropped
    val visit = segs.where($"place_id" === "ChIJ123")
    assert(visit.select("visit_latitude").as[Double].head() == 35.6586)
    val badLoc = segs.where($"place_id" === "ChIJ999")
    assert(badLoc.select("visit_latitude").head().isNullAt(0))
    val walk = segs.where($"segment_type" === "ACTIVITY")
    assert(walk.select("activity_type").as[String].head() == "WALKING")
    assert(walk.select("start_latitude").as[Double].head() == 35.65)

    // gold: full travel cost
    val cost = Gold.fullTravelCost(
      catalog.read("silver", "transactions"),
      catalog.read("silver", "manual_logs"))
    val rows = cost.collect()
    assert(rows.length == 2)
    val d1 = rows(0)
    assert(d1.getAs[Double]("hotel") == 1200.50)
    assert(d1.getAs[Double]("food") == 12.0)
    assert(d1.getAs[Double]("total") == 1212.50)
    val d2 = rows(1)
    assert(d2.getAs[Double]("travel") == 300.0)
    // uncategorized spend is outside the 5 pivot categories, exactly like
    // the reference's TOTAL (sum of the 5 CASE columns only)
    assert(d2.getAs[Double]("misc") == 0.0)
    assert(d2.getAs[Double]("total") == 300.0)
    assert(d2.getAs[Double]("running_total") == 1212.50 + 300.0)
    assert(d2.getAs[Double]("daily_avg") == (1212.50 + 300.0) / 2)

    // gold: tax report — flight day 02-18 joined to wake-up 02-19 (score 65)
    val tax = Gold.travelTaxReport(
      catalog.read("silver", "flight_logs"),
      catalog.read("silver", "sleep_scores"),
      catalog.read("silver", "heart_rate_hourly"))
    val taxRows = tax.orderBy("report_date").collect()
    val travelDay = taxRows.find(_.getAs[Boolean]("is_travel_day")).get
    assert(travelDay.getAs[java.sql.Date]("report_date").toString == "2026-02-18")
    assert(math.abs(travelDay.getAs[Double]("total_flight_hours") - 12.75) < 1e-9)
    assert(travelDay.getAs[Long]("flight_count") == 2)
    assert(travelDay.getAs[String]("destination_city") == "HND, KIX")
    // 12.75h flight and next-day score 65 -> High Strain
    assert(travelDay.getAs[String]("recovery_status") == "High Strain")
    // wake 02-20 score 90 -> its travel day 02-19 row: Well Recovered
    val recovered = taxRows.find(r =>
      r.getAs[java.sql.Date]("report_date").toString == "2026-02-19").get
    assert(recovered.getAs[String]("recovery_status") == "Well Recovered")
    assert(recovered.getAs[String]("destination_city") == "No Travel")

    // gold: transport mode from timeline
    val modes = Gold.transportModeAnalysis(segs).collect()
    assert(modes.length == 1)
    assert(modes(0).getAs[String]("activity_type") == "WALKING")
    assert(math.abs(modes(0).getAs[Double]("total_distance_km") - 1.2345) < 1e-9)

    // gold: daily summary JSON
    val json = Gold.dailySummary("2026-02-19",
      catalog.read("silver", "daily_spend"),
      catalog.read("silver", "steps_hourly"),
      catalog.read("silver", "sleep_scores"),
      catalog.read("silver", "manual_logs"),
      catalog.read("silver", "flight_logs"),
      segs)
    assert(json.contains("\"TOTAL_SPENT\":1212.5"))
    assert(json.contains("\"TOTAL_STEPS\":1750"))
    assert(json.contains("ChIJ123") || json.contains("WALKING"))
    // A13 contract: pin the exact top-level key set the reference's
    // consumer reads (daily_travel_summary.py:32-87) so the blob shape
    // cannot drift silently (top-level keys are the only UPPERCASE ones)
    val keys = "\"([A-Z_]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSet
    assert(keys == Set("DATE", "TOTAL_SPENT", "TOTAL_STEPS",
      "SPENDING_ITEMS", "SLEEP_DATA", "MANUAL_LOGS", "FLIGHTS",
      "TIMELINE_SEGMENTS"))
  }

  test("silver re-run is a no-op; Reprocess=true replays idempotently") {
    import spark.implicits._
    // all batches already SUCCESS -> nothing pending
    assert(silver.pendingLoadIds("transactions").isEmpty)
    val before = catalog.read("silver", "transactions").count()
    silver.runAll()
    assert(catalog.read("silver", "transactions").count() == before)
    // Reprocess=true replays every bronze batch; dynamic partition
    // overwrite keeps the table identical (delete+insert semantics)
    val replayIds = silver.pendingLoadIds("transactions", reprocess = true)
    assert(replayIds.nonEmpty)
    // runAll marks a failed batch with -1 rows instead of throwing
    val replayed = silver.runAll(reprocess = true,
      only = Some("transactions"))("transactions")
    assert(replayed.map(_._1) == replayIds && replayed.forall(_._2 >= 0),
      replayed.toString)
    assert(catalog.read("silver", "transactions").count() == before)
  }

  test("building a Catalog leaves the session's partitionOverwriteMode " +
      "as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "static")
      new Catalog(spark, Files.createTempDirectory("graft_conf").toString)
      assert(spark.conf.get(key).equalsIgnoreCase("static"))
    } finally spark.conf.set(key, prev)
  }

  test("overwriteBatch replaces only its own load_id partitions in a " +
      "session left at static partition overwrite") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    val c = new Catalog(spark, Files.createTempDirectory("graft_static").toString)
    try {
      spark.conf.set(key, "static")
      c.appendBatched(Seq((1L, "a"), (2L, "b")).toDF("load_id", "v"),
        "silver", "t")
      c.overwriteBatch(Seq((2L, "c")).toDF("load_id", "v"), "silver", "t")
      val rows = c.read("silver", "t").select($"load_id", $"v")
        .as[(Long, String)].collect().sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "c")), rows.toString)
    } finally spark.conf.set(key, prev)
  }

  test("schema reset drops and allows rebuild (S14)") {
    val scratch = new Catalog(spark, Files.createTempDirectory("graft_reset").toString)
    import spark.implicits._
    scratch.append(Seq((1L, "x")).toDF("id", "v"), "gold", "t1")
    assert(scratch.exists("gold", "t1"))
    scratch.dropSchema("gold")
    assert(!scratch.exists("gold", "t1"))
    // rebuild after reset works
    scratch.append(Seq((2L, "y")).toDF("id", "v"), "gold", "t1")
    assert(scratch.read("gold", "t1").count() == 1)
  }

  test("dashboard query surface over the warehouse (§3.2)") {
    import spark.implicits._
    val segs = catalog.read("silver", "timeline_segments")
    val tx = catalog.read("silver", "transactions")
    val (d1, d2) = ("2026-02-18", "2026-02-21")

    val v = Dashboard.visits(segs, d1, d2)
    assert(v.count() == 1) // ChIJ123 has coords; ChIJ999's are null-parsed
    assert(v.select("lat").as[Double].head() == 35.6586)

    val m = Dashboard.movements(segs, d1, d2)
    assert(m.count() == 1 &&
      m.select("activity_type").as[String].head() == "WALKING")

    assert(Dashboard.flights(
      catalog.read("silver", "flight_logs"), d1, d2).count() == 2)
    assert(Dashboard.sleep(
      catalog.read("silver", "sleep_scores"), d1, d2).count() == 2)
    assert(Dashboard.dailySteps(
      catalog.read("silver", "steps_hourly"), d1, d2)
      .agg(sum($"total_steps")).as[Long].head() == 1750)

    val spend = Dashboard.spendByType(tx, d1, d2)
    assert(spend.where($"type" === "Hotel")
      .select("total_amount").as[Double].head() == 1200.50)
    val top = Dashboard.topTransactions(tx, d1, d2, k = 2).collect()
    assert(top.length == 2 && top(0).getAs[String]("name") == "Hotel Tokyo")
    val modes = Dashboard.distanceByMode(segs, d1, d2).collect()
    assert(modes.length == 1 &&
      math.abs(modes(0).getAs[Double]("total_km") - 1.2345) < 1e-9)

    // `only` run-parameter restricts the DAG to one dataset
    val restricted = silver.runAll(reprocess = true, only = Some("manual_logs"))
    assert(restricted("manual_logs").nonEmpty)
    assert(restricted.view.filterKeys(_ != "manual_logs").values.forall(_.isEmpty))
  }

  test("CSV tolerance: short rows land with nulls (column-count mismatch)") {
    import spark.implicits._
    val land2 = Files.createTempDirectory("graft_land2").toString
    val cat2 = new Catalog(spark, Files.createTempDirectory("graft_wh2").toString)
    val ing2 = new Ingestion(cat2)
    write(land2, "transactions_x.csv",
      """country,date,name,type,amount,comments
        |Japan,2026-03-01,Full Row,Food,10.00,ok
        |Japan,2026-03-02,Short Row
        |""".stripMargin)
    ing2.ingest(Schemas.FileDetail(9, "c", "s", land2, "transactions*.csv",
      "bronze", "transactions", "CSV"))
    val rows = cat2.read("bronze", "transactions")
    assert(rows.count() == 2) // PERMISSIVE keeps the short row
    val short = rows.where($"name" === "Short Row").head()
    assert(short.isNullAt(short.fieldIndex("amount")))
  }

  test("bucketed tables join without a shuffle Exchange") {
    import spark.implicits._
    val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "rv")
    catalog.writeBucketed(left, "bkt_left", "k", 4)
    catalog.writeBucketed(right, "bkt_right", "k", 4)
    // disable broadcast so the planner exercises the bucketed SMJ path the
    // way it would on two large fact tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = catalog.readTable("bkt_left")
        .join(catalog.readTable("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("batch-scoped reads prune load_id partitions at the scan") {
    import spark.implicits._
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("load_id", "v")
    catalog.appendBatched(df, "silver", "pp_probe")
    val scan = catalog.read("silver", "pp_probe").where($"load_id" === 2L)
    val plan = scan.queryExecution.executedPlan.toString
    // the batch predicate must prune PARTITION DIRECTORIES (S8's
    // batch-scoped read at 100 TB reads one load, not the table)
    assert(plan.contains("PartitionFilters: [isnotnull(load_id"),
      plan.take(1200))
    assert(scan.count() == 1)
  }

  test("re-upload: latest load wins in gold (W1/W2 dedup)") {
    import spark.implicits._
    // re-upload transactions with corrected amounts + updated manual log
    write(landing, "transactions_1.csv", // same file name => same _source_file
      """country,date,name,type,amount,comments
        |Japan,2026-02-19,Hotel Tokyo,Hotel,"$1,300.00",Corrected rate
        |Japan,2026-02-19,Ramen,Food,12.00,Dinner
        |Japan,2026-02-20,JR Pass,Travel,300.00,NULL
        |""".stripMargin)
    // force reload by clearing the ledger entry trick: new file name instead
    write(landing, "transactions_2.csv",
      """country,date,name,type,amount,comments
        |Japan,2026-02-19,Hotel Tokyo,Hotel,"$1,300.00",Corrected rate
        |""".stripMargin)
    write(landing, "manual_logs_2.csv",
      """day,date,flag,country,city,description,comments,food,travel,hotel
        |1,2026-02-19,1.0,Japan,Tokyo,Arrival day v2,Updated,Ramen,Flight,Shinjuku
        |""".stripMargin)
    ingestion.ingestAll(config)
    silver.runAll()

    val logs = catalog.read("silver", "manual_logs")
    // W2: one row per date, latest load wins
    val cost = Gold.fullTravelCost(
      catalog.read("silver", "transactions"), logs)
    val d1 = cost.collect()(0)
    assert(d1.getAs[String]("description") == "Arrival day v2")
    // transactions_2 is a NEW _source_file: its rows coexist with file 1's
    // (W1 filters per file, not per date)
    assert(d1.getAs[Double]("hotel") == 1200.50 + 1300.00)
  }

  test("compaction reduces file count and preserves content exactly") {
    import spark.implicits._
    val cat3 = new Catalog(spark, Files.createTempDirectory("graft_wh3").toString)
    // simulate many tiny append batches -> many small files
    (1L to 12L).foreach { lid =>
      cat3.appendBatched(
        (1 to 50).map(i => (lid * 100 + i, s"v$i", lid)).toDF("id", "v", "load_id"),
        "silver", "compact_me")
    }
    val before = cat3.read("silver", "compact_me").orderBy("id").collect()
    val nBefore = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat3.path("silver", "compact_me")))
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).count()
    val nAfter = cat3.compact("silver", "compact_me")
    assert(nAfter < nBefore, s"$nAfter vs $nBefore")
    val after = cat3.read("silver", "compact_me").orderBy("id").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("compaction survives map-typed columns (salt skips unhashable types)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map, lit}
    val cat5 = new Catalog(spark, Files.createTempDirectory("graft_wh5").toString)
    (1L to 4L).foreach { lid =>
      cat5.appendBatched(
        (1 to 30).map(i => (lid * 100 + i, lid)).toDF("id", "load_id")
          .withColumn("attrs", map(lit("k"), col("id").cast("string"))),
        "silver", "compact_map")
    }
    val before = cat5.read("silver", "compact_map")
      .select("id", "load_id").orderBy("id").collect()
    // would throw inside xxhash64 if the salt hashed the map column
    cat5.compact("silver", "compact_map")
    val after = cat5.read("silver", "compact_map")
      .select("id", "load_id").orderBy("id").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("compaction of a partitioned table larger than one target file " +
      "still reduces files and respects the load_id layout") {
    import spark.implicits._
    val cat4 = new Catalog(spark, Files.createTempDirectory("graft_wh4").toString)
    (1L to 6L).foreach { lid =>
      cat4.appendBatched(
        (1 to 400).map(i => (lid * 1000 + i, s"value_$i" * 8, lid))
          .toDF("id", "v", "load_id"),
        "silver", "compact_big")
    }
    val p = Paths.get(cat4.path("silver", "compact_big"))
    def parquetFiles() = java.nio.file.Files.walk(p)
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map[String](_.toString).toArray.toSeq.map(_.toString)
    val before = cat4.read("silver", "compact_big").orderBy("id").collect()
    val nBefore = parquetFiles().size
    // tiny target => nFiles > 1, the case where a round-robin repartition
    // would EXPLODE the file count (nFiles x #partitions)
    val bytes = java.nio.file.Files.walk(p)
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    val target = bytes / 4
    val nAfter = cat4.compact("silver", "compact_big", targetBytes = target)
    assert(nAfter < nBefore, s"$nAfter vs $nBefore")
    // every output file must live inside exactly one load_id directory,
    // with at most ceil(perLoad/target)=1 file per partition here
    val byDir = parquetFiles().groupBy(f => f.split("/").init.last)
    assert(byDir.keySet.forall(_.startsWith("load_id=")), byDir.keySet.toString)
    byDir.foreach { case (dir, fs) =>
      assert(fs.size <= 2, s"$dir has ${fs.size} files after compaction")
    }
    val after = cat4.read("silver", "compact_big").orderBy("id").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("orphaned RUNNING claims from a crashed run are reconciled to " +
      "ABANDONED at the next ingest; the files retry under fresh " +
      "load_ids and no ghost in-flight rows survive") {
    import spark.implicits._
    val land = Files.createTempDirectory("graft_orph_land").toString
    val cat = new Catalog(spark,
      Files.createTempDirectory("graft_orph_wh").toString)
    val ing = new Ingestion(cat)
    write(land, "transactions_a.csv",
      """country,date,name,type,amount,comments
        |Japan,2026-03-01,Row A,Food,10.00,ok
        |""".stripMargin)
    // simulate the crash the batched up-front claim makes possible: a
    // previous run claimed load_ids 1-2 (RUNNING for both files) and died
    // before attempting either — no terminal rows exist
    val t0 = new java.sql.Timestamp(0L)
    cat.append(Seq(
      Schemas.IngestionLog(1L, s"file:$land/transactions_a.csv",
        "transactions", "RUNNING", 0L, "", t0),
      Schemas.IngestionLog(2L, s"file:$land/transactions_never.csv",
        "transactions", "RUNNING", 0L, "", t0)).toDF(),
      "admin", "ingestion_logs")
    val res = ing.ingest(Schemas.FileDetail(9, "c", "s", land,
      "transactions*.csv", "bronze", "transactions", "CSV"))
    // the surviving file loaded under a FRESH id (3, past the claimed
    // range), not the orphaned claim's id
    assert(res.map(_._2) == Seq(3L), res.toString)
    val ledger = cat.read("admin", "ingestion_logs")
    // both orphans got terminal ABANDONED rows with their claimed ids
    val abandoned = ledger.where($"status" === "ABANDONED")
      .select($"load_id").as[Long].collect().sorted.toSeq
    assert(abandoned == Seq(1L, 2L), abandoned.toString)
    // the ledger-consumer invariant the advice asked for: zero RUNNING
    // rows without a terminal (SUCCESS/FAILURE/ABANDONED) sibling
    def inflight() = ledger.where($"status" === "RUNNING")
      .join(ledger.where(
        $"status".isin("SUCCESS", "FAILURE", "ABANDONED"))
        .select($"load_id"), Seq("load_id"), "left_anti").count()
    assert(inflight() == 0L)
    // idempotent: a second reconcile finds nothing
    assert(ing.reconcileOrphans().isEmpty)
    // and a second ingest neither re-loads nor re-abandons anything
    assert(ing.ingest(Schemas.FileDetail(9, "c", "s", land,
      "transactions*.csv", "bronze", "transactions", "CSV")).isEmpty)
    assert(cat.read("admin", "ingestion_logs")
      .where($"status" === "ABANDONED").count() == 2L)
  }

  test("catalog schema contract: a read after this catalog's own write " +
      "runs no schema-inference job and sees the written schema") {
    import spark.implicits._
    val cat = new Catalog(spark, Files.createTempDirectory("graft_schema").toString)
    def readJobs(table: String): Int =
      jobsByPhase { label => label("read"); cat.read("silver", table); () }
        .getOrElse("read", 0)
    cat.overwrite(Seq((1L, "a")).toDF("id", "v"), "silver", "known")
    assert(readJobs("known") == 0)
    // the probe sees inference: a plain parquet read of the same path runs it
    assert(jobsByPhase { label =>
      label("read"); spark.read.parquet(cat.path("silver", "known")); ()
    }.getOrElse("read", 0) >= 1)
    // an overwrite with an added column replaces the known schema
    cat.overwrite(Seq((2L, "b", 2.5)).toDF("id", "v", "extra"), "silver", "known")
    assert(readJobs("known") == 0)
    val wider = cat.read("silver", "known")
    assert(wider.columns.toSeq == Seq("id", "v", "extra"))
    assert(wider.select("extra").as[Double].collect().toSeq == Seq(2.5))
    // same-schema appends keep the known schema
    cat.append(Seq((3L, "c", 3.5)).toDF("id", "v", "extra"), "silver", "known")
    assert(readJobs("known") == 0)
    assert(cat.read("silver", "known").count() == 2)
    // the visible change: load_id reads as the BIGINT it was written with,
    // where partition-value inference reads small ids as INT
    cat.appendBatched(Seq((1L, "x"), (2L, "y")).toDF("load_id", "v"),
      "silver", "batched")
    assert(readJobs("batched") == 0)
    val batched = cat.read("silver", "batched")
    assert(batched.columns.toSeq == Seq("v", "load_id"))
    assert(batched.schema("load_id").dataType == LongType)
    assert(spark.read.parquet(cat.path("silver", "batched"))
      .schema("load_id").dataType == IntegerType)
    // dropSchema forgets the schemas of the dropped tables
    cat.dropSchema("silver")
    cat.append(Seq(("z", 9L)).toDF("v", "other"), "silver", "known")
    assert(cat.read("silver", "known").columns.toSeq == Seq("v", "other"))
  }

  test("catalog schema contract: a table another Catalog instance appended " +
      "with a different schema is never read with the stale schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_schema2").toString
    val a = new Catalog(spark, root)
    val b = new Catalog(spark, root)
    a.overwrite(Seq((1L, "x")).toDF("id", "v"), "silver", "shared")
    b.append(Seq((2L, "y", 3.0)).toDF("id", "v", "w"), "silver", "shared")
    // the schemas differ, so the table's files mix two schemas: A's read
    // infers, exactly as a plain parquet read of the path does
    val inferred = jobsByPhase { label =>
      label("read"); a.read("silver", "shared"); ()
    }.getOrElse("read", 0)
    assert(inferred >= 1, "read used a stored schema after a differing append")
    assert(a.read("silver", "shared").schema ==
      spark.read.parquet(a.path("silver", "shared")).schema)
    assert(a.read("silver", "shared").count() == 2)
    // another instance's overwrite with a new column: A reads that schema
    b.overwrite(Seq((3L, "z", 4.0)).toDF("id", "v", "w"), "silver", "shared")
    val after = a.read("silver", "shared")
    assert(after.columns.toSeq == Seq("id", "v", "w"))
    assert(after.select("w").as[Double].collect().toSeq == Seq(4.0))
    // the schema is stored with the warehouse: a Catalog created later
    // over the same root, as a restarted or separate process would, reads
    // without inference
    val fresh = new Catalog(spark, root)
    assert(jobsByPhase { label =>
      label("read"); fresh.read("silver", "shared"); ()
    }.getOrElse("read", 0) == 0)
    assert(fresh.read("silver", "shared").schema == after.schema)
  }

  test("catalog schema contract: a table written around the catalog " +
      "infers, reads load_id as BIGINT, and stores its schema on the next " +
      "matching write") {
    import spark.implicits._
    val cat = new Catalog(spark, Files.createTempDirectory("graft_schema4").toString)
    def readJobs(table: String): Int =
      jobsByPhase { label => label("read"); cat.read("silver", table); () }
        .getOrElse("read", 0)
    // written by plain Spark, as a warehouse from before the catalog
    // stored schemas was
    Seq(("x", 1L), ("y", 2L)).toDF("v", "load_id")
      .write.partitionBy("load_id").parquet(cat.path("silver", "legacy"))
    assert(readJobs("legacy") >= 1)
    val inferred = cat.read("silver", "legacy")
    assert(inferred.columns.toSeq == Seq("v", "load_id"))
    assert(inferred.schema("load_id").dataType == LongType)
    assert(inferred.where($"load_id" === 2L).select("v").as[String]
      .collect().toSeq == Seq("y"))
    // a write whose schema matches the inferred one stores it
    cat.appendBatched(Seq(("z", 3L)).toDF("v", "load_id"), "silver", "legacy")
    assert(readJobs("legacy") == 0)
    assert(cat.read("silver", "legacy").schema == inferred.schema)
    assert(cat.read("silver", "legacy").count() == 3)
    // an empty batch writes no data file: the stored schema still reads
    // it, where inference has no file to infer from
    cat.appendBatched(Seq.empty[(String, Long)].toDF("v", "load_id"),
      "silver", "empty")
    assert(cat.read("silver", "empty").count() == 0)
    assert(cat.read("silver", "empty").schema("load_id").dataType == LongType)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(cat.path("silver", "empty")))
    // a table written around the catalog with no data file has nothing to
    // infer: a write to it still lands, and the one after stores the schema
    Seq.empty[(String, Long)].toDF("v", "load_id")
      .write.partitionBy("load_id").parquet(cat.path("silver", "legacy_empty"))
    cat.appendBatched(Seq(("w", 4L)).toDF("v", "load_id"), "silver", "legacy_empty")
    assert(cat.read("silver", "legacy_empty").count() == 1)
    cat.appendBatched(Seq(("u", 5L)).toDF("v", "load_id"), "silver", "legacy_empty")
    assert(readJobs("legacy_empty") == 0)
    assert(cat.read("silver", "legacy_empty").count() == 2)
  }

  test("catalog schema contract: concurrent overwrites from threads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val cat = new Catalog(spark, Files.createTempDirectory("graft_schema3").toString)
    val pool = Executors.newFixedThreadPool(3)
    try {
      val done = (0 until 3).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 3).foreach { round =>
            cat.overwrite((1 to 5).map(i => (i.toLong, s"t$t")).toDF("id", "v")
              .withColumn(s"c$round", lit(round)), "gold", s"t$t")
          }
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    (0 until 3).foreach { t =>
      assert(jobsByPhase { label =>
        label("read"); cat.read("gold", s"t$t"); ()
      }.getOrElse("read", 0) == 0)
      val r = cat.read("gold", s"t$t")
      assert(r.columns.toSeq == Seq("id", "v", "c2"))
      assert(r.where($"v" === s"t$t" && $"c2" === 2).count() == 5)
    }
  }

  test("job-count tripwire over the e2e fixture: jobs per loaded file, " +
      "per Silver batch and per dailySummary call") {
    val land = Files.createTempDirectory("graft_jobs_land").toString
    val cat = new Catalog(spark, Files.createTempDirectory("graft_jobs_wh").toString)
    seedFixtures(land)
    val ing = new Ingestion(cat)
    val sil = new SilverTransforms(cat)
    var files = 0
    var batches = 0
    def s(t: String) = cat.read("silver", t)
    val (d1, d2) = ("2026-02-18", "2026-02-21")
    val dashboard = Seq[() => DataFrame](
      () => Dashboard.visits(s("timeline_segments"), d1, d2),
      () => Dashboard.movements(s("timeline_segments"), d1, d2),
      () => Dashboard.logs(s("manual_logs"), d1, d2),
      () => Dashboard.transactions(s("transactions"), d1, d2),
      () => Dashboard.flights(s("flight_logs"), d1, d2),
      () => Dashboard.sleep(s("sleep_scores"), d1, d2),
      () => Dashboard.dailySteps(s("steps_hourly"), d1, d2),
      () => Dashboard.spendByType(s("transactions"), d1, d2),
      () => Dashboard.topTransactions(s("transactions"), d1, d2),
      () => Dashboard.distanceByMode(s("timeline_segments"), d1, d2))
    val jobs = jobsByPhase { label =>
      label("ingest")
      files = ing.ingestAll(configFor(land)).values.map(_.size).sum
      label("silver")
      batches = sil.runAll().values.map(_.size).sum
      label("summary")
      Gold.dailySummary("2026-02-19", s("daily_spend"), s("steps_hourly"),
        s("sleep_scores"), s("manual_logs"), s("flight_logs"),
        s("timeline_segments"))
      label("dashboard")
      dashboard.foreach(_().collect())
    }
    assert(files == 7 && batches == 7, s"$files files, $batches batches")
    val perFile = jobs.getOrElse("ingest", 0).toDouble / files
    val perBatch = jobs.getOrElse("silver", 0).toDouble / batches
    val summary = jobs.getOrElse("summary", 0)
    val perCall = jobs.getOrElse("dashboard", 0).toDouble / dashboard.size
    info(f"jobs: $perFile%.2f per loaded file, $perBatch%.2f per Silver " +
      f"batch, $summary per dailySummary call, $perCall%.2f per dashboard call")
    // this fixture runs 1, 2.57, 2 and 0.9; inferring every read's schema,
    // reading a ledger per decision and a summary of seven collects ran
    // 12.86, 16 and 23, reading Bronze's load ids with a distinct() query
    // instead of listing them ran 6.86 per Silver batch, ledger rows,
    // ledger snapshots and batch read-backs as Spark jobs ran 4.86 and
    // 4.86, and scanning every dashboard input with a job ran 1.3 per
    // dashboard call (the six filter shapes now run none)
    assert(perFile <= 1.0, f"$perFile%.2f jobs per loaded file")
    assert(perBatch <= 2.6, f"$perBatch%.2f jobs per Silver batch")
    assert(summary <= 2, s"$summary jobs per dailySummary call")
    assert(perCall <= 0.9, f"$perCall%.2f jobs per dashboard call")
  }

  private def ledgerRow(id: Long, status: String,
      t: Timestamp = new Timestamp(0L)) =
    Schemas.IngestionLog(id, s"file:/land/f$id.csv", "transactions", status,
      id * 10, "", t)

  test("control plane on the driver: a ledger append, a snapshot with no " +
      "unseen file and a batch read-back run no Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ctl").toString
    val cat = new Catalog(spark, root)
    cat.appendBatched(Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("v", "load_id"),
      "silver", "batched")
    var snap = Seq.empty[Schemas.IngestionLog]
    var fresh = Seq.empty[Schemas.IngestionLog]
    var counts = Seq.empty[Long]
    val jobs = jobsByPhase { label =>
      label("append")
      cat.appendRows(Seq(ledgerRow(1L, "RUNNING"), ledgerRow(2L, "RUNNING")),
        "admin", "ingestion_logs")
      cat.appendRows(Seq(ledgerRow(1L, "SUCCESS")), "admin", "ingestion_logs")
      label("snapshot")
      snap = cat.snapshot[Schemas.IngestionLog]("admin", "ingestion_logs")
      // a second Catalog over the root holds no file yet: it decodes both
      label("fresh")
      fresh = new Catalog(spark, root)
        .snapshot[Schemas.IngestionLog]("admin", "ingestion_logs")
      label("count")
      counts = Seq(1L, 2L, 3L).map(cat.countBatch("silver", "batched", _))
    }
    assert(jobs.isEmpty, jobs.toString)
    assert(snap.map(r => (r.load_id, r.status)).sorted ==
      Seq((1L, "RUNNING"), (1L, "SUCCESS"), (2L, "RUNNING")))
    assert(fresh.sortBy(r => (r.load_id, r.status)) ==
      snap.sortBy(r => (r.load_id, r.status)))
    // the footer counts are the rows a read of each batch returns; a load
    // with no partition directory counts 0
    assert(counts == Seq(2L, 1L, 0L))
    assert(counts.take(2) == Seq(1L, 2L).map(id =>
      cat.read("silver", "batched").where($"load_id" === id).count()))
  }

  test("a ledger file written on the driver reads back like a Spark-written " +
      "one: same file schema, read schema and rows") {
    import spark.implicits._
    val t = new Timestamp(1771500000123L)
    t.setNanos(123456789) // sub-microsecond digits truncate on both paths
    val rows = Seq(ledgerRow(1L, "SUCCESS", t),
      ledgerRow(2L, "FAILURE", new Timestamp(0L)).copy(error_message = null))
    val bySpark = new Catalog(spark, Files.createTempDirectory("graft_w1").toString)
    val byDriver = new Catalog(spark, Files.createTempDirectory("graft_w2").toString)
    bySpark.append(rows.toDF().coalesce(1), "admin", "ingestion_logs")
    byDriver.appendRows(rows, "admin", "ingestion_logs")
    def file(c: Catalog) = {
      val p = new HPath(c.path("admin", "ingestion_logs"))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val data = fs.listStatus(p).toSeq
        .filterNot(s => Seq("_", ".").exists(s.getPath.getName.startsWith))
      assert(data.size == 1, data.toString)
      data.head
    }
    def footer(c: Catalog) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file(c),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData finally r.close()
    }
    assert(footer(byDriver).getSchema == footer(bySpark).getSchema)
    assert(footer(byDriver).getKeyValueMetaData == footer(bySpark).getKeyValueMetaData)
    assert(file(byDriver).getPath.getName.endsWith(".snappy.parquet"))
    val (a, b) = (bySpark.read("admin", "ingestion_logs"),
      byDriver.read("admin", "ingestion_logs"))
    assert(b.schema == a.schema)
    // inferred from the file alone, too
    assert(spark.read.parquet(byDriver.path("admin", "ingestion_logs")).schema ==
      spark.read.parquet(bySpark.path("admin", "ingestion_logs")).schema)
    assert(b.orderBy("load_id").collect().toSeq == a.orderBy("load_id").collect().toSeq)
    val back = b.as[Schemas.IngestionLog].orderBy("load_id").collect().toSeq
    assert(back.head.started_at == Timestamp.valueOf(t.toLocalDateTime.withNano(123456000)))
    assert(back(1).error_message == null)
    assert(byDriver.snapshot[Schemas.IngestionLog]("admin", "ingestion_logs")
      .sortBy(_.load_id) == back)
  }

  test("ledger snapshots stay coherent across Catalogs over one root, " +
      "compaction, a leftover temp file and a schema reset") {
    val root = Files.createTempDirectory("graft_snap").toString
    val a = new Catalog(spark, root)
    val b = new Catalog(spark, root)
    def ids(c: Catalog) = c.snapshot[Schemas.IngestionLog]("admin", "ingestion_logs")
      .map(r => (r.load_id, r.status)).sorted
    assert(ids(a).isEmpty)
    a.appendRows(Seq(ledgerRow(1L, "RUNNING")), "admin", "ingestion_logs")
    assert(ids(b) == Seq((1L, "RUNNING")))
    b.appendRows(Seq(ledgerRow(1L, "SUCCESS")), "admin", "ingestion_logs")
    assert(ids(a) == Seq((1L, "RUNNING"), (1L, "SUCCESS")))
    // an append that died before its rename leaves a hidden temp file:
    // neither a read nor a snapshot reads it (its bytes are no parquet)
    write(a.path("admin", "ingestion_logs"),
      ".part-00000-crashed-c000.snappy.parquet", "not parquet")
    assert(a.read("admin", "ingestion_logs").count() == 2)
    assert(ids(a) == Seq((1L, "RUNNING"), (1L, "SUCCESS")))
    // compaction replaces every file: the rows stay, for both Catalogs
    a.compact("admin", "ingestion_logs")
    assert(ids(a) == Seq((1L, "RUNNING"), (1L, "SUCCESS")))
    assert(ids(b) == Seq((1L, "RUNNING"), (1L, "SUCCESS")))
    // after a reset the next ingest allocates load ids from 1 again
    val land = Files.createTempDirectory("graft_snap_land").toString
    write(land, "transactions_1.csv",
      "country,date,name,type,amount,comments\nJapan,2026-03-01,A,Food,1.00,ok\n")
    val detail = Schemas.FileDetail(9, "c", "s", land, "transactions*.csv",
      "bronze", "transactions", "CSV")
    val ing = new Ingestion(a)
    assert(ing.ingest(detail).map(_._2) == Seq(2L))
    Seq("bronze", "admin").foreach(a.dropSchema)
    assert(ids(a).isEmpty)
    assert(ing.ingest(detail).map(_._2) == Seq(1L))
    assert(ids(a) == Seq((1L, "RUNNING"), (1L, "SUCCESS")))
  }

  test("listFiles globs a landing path on a filesystem other than the " +
      "default one") {
    val land = Files.createTempDirectory("graft_alt_land").toString
    write(land, "transactions_1.csv", "country\nJapan\n")
    write(land, "manual_logs_1.csv", "day\n1\n")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftalt.impl", classOf[AltSchemeFileSystem].getName)
    conf.setBoolean("fs.graftalt.impl.disable.cache", true)
    try {
      val files = new Ingestion(catalog).listFiles(s"graftalt:$land",
        "transactions*.csv")
      assert(files.map(new HPath(_).getName) == Seq("transactions_1.csv"), files)
      assert(files.forall(_.startsWith("graftalt:")), files)
    } finally {
      conf.unset("fs.graftalt.impl")
      conf.unset("fs.graftalt.impl.disable.cache")
    }
  }
}
