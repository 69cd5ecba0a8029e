package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline._
import graft.streaming.EventStream

/** Drives the public functions of `graft.pipeline` and `graft.streaming`
  * for one workload, as one closed-loop client, and writes raw samples,
  * outputs to check and per-layer counters to a JSON file. `run.py`
  * generates the inputs, starts this program, checks its outputs and
  * prints the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --setup-rounds R --input DIR --work DIR --out FILE
  */
object Main {

  val Datasets: Seq[(String, String, String)] = Seq(
    ("transactions", "transactions_*.csv", "CSV"),
    ("manual_logs", "manual_logs_*.csv", "CSV"),
    ("flight_logs", "flight_logs_*.csv", "CSV"),
    ("fitbit_heart_rate", "fitbit_heart_rate_*.csv", "CSV"),
    ("fitbit_steps", "fitbit_steps_*.csv", "CSV"),
    ("fitbit_sleep_score", "fitbit_sleep_score_*.csv", "CSV"),
    ("google_timeline", "google_timeline_*.json", "JSON"))

  /** The Gold reports, each built from a reader of Silver tables. */
  val GoldReports: Seq[(String, (String => DataFrame) => DataFrame)] = Seq(
    "full_travel_cost" -> (s =>
      Gold.fullTravelCost(s("transactions"), s("manual_logs"))),
    "travel_tax_report" -> (s => Gold.travelTaxReport(
      s("flight_logs"), s("sleep_scores"), s("heart_rate_hourly"))),
    "transport_mode_analysis" -> (s =>
      Gold.transportModeAnalysis(s("timeline_segments"))))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = opt("trace") == "1"
    val tracer = new Tracer(spark)
    val run = new Run(spark, tracer, trace, opt("input"), work,
      opt("seed").toLong, opt("seconds").toDouble)
    run.out("session_s") = sessionS
    val rounds = opt("setup-rounds").toInt
    try opt("workload") match {
      case "medallion" => run.medallion(rounds)
      case "stream_dedup" => run.stream(rounds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        run.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    if (trace) {
      tracer.off()
      tracer.settle()
      run.layers()
    }
    run.out("samples") = run.samples
    run.out("facts") = run.facts
    run.out("attempted") = run.attempted
    run.out("failed") = run.failed
    run.out("errors") = run.errors.toSeq
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(run.out))
    spark.stop()
  }
}

/** One run of one workload. Every call into the program goes through
  * `op`, which counts operations attempted and failed.
  */
final class Run(spark: SparkSession, tracer: Tracer, trace: Boolean,
    input: String, work: String, seed: Long, seconds: Double) {
  import Main._

  val out = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Facts of the first measured unit (counter deltas, load counts). */
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** Records a sample; work done while tracing is kept apart. */
  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(if (tracer.active) s"traced.$k" else k,
      mutable.ArrayBuffer.empty) += v

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Runs one call into the program. `tally` turns its result into
    * (operations attempted, operations failed): one call may load several
    * files or Silver batches. A thrown exception fails one operation.
    */
  def op[T](what: String)(body: => T)(tally: T => (Int, Int)): Option[T] = {
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val (a, f, err) = r match {
      case Right(v) =>
        val (a, f) = tally(v)
        (a, f, if (f > 0) Some(s"$what: $f of $a operations failed") else None)
      case Left(e) => (1, 1, Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    synchronized {  // set-up calls come from several threads
      attempted += a
      failed += f
      err.foreach(errors += _)
    }
    r.toOption
  }

  val one: Any => (Int, Int) = _ => (1, 0)

  /** Closed loop: runs `unit(k)` until `seconds` have passed, at least
    * `min` and at most `max` times. The first unit's filesystem counter
    * deltas are kept for the per-layer metrics. When tracing, even units
    * are traced and odd ones are not, so the overhead of tracing shows,
    * and the loop runs twice as long.
    */
  def loop(name: String, min: Int, max: Int)(unit: Int => Unit): Unit = {
    val start = System.nanoTime()
    val (need, budget) = if (trace) (2 * min, 2 * seconds) else (min, seconds)
    var k = 0
    while (k < max && (k < need || (System.nanoTime() - start) / 1e9 < budget)) {
      tracer.iter = k
      if (trace && k % 2 == 0) tracer.on() else tracer.off()
      if (k == 0) countFs(s"$name.fs")(unit(k)) else unit(k)
      k += 1
    }
    tracer.off()
    out(s"$name.units") = k
  }

  /** Runs set-up work untraced, stamped as set-up. */
  def setup[T](body: => T): T = {
    tracer.off()
    tracer.iter = -1
    body
  }

  def countFs[T](key: String)(body: => T): T = {
    val before = FsOps.snapshot()
    val r = body
    facts(key) = FsOps.snapshot().map { case (n, v) => n -> (v - before(n)) }
    r
  }

  // ── medallion ────────────────────────────────────────────────────────

  def config(landing: String): Seq[Schemas.FileDetail] =
    Datasets.zipWithIndex.map { case ((ds, pattern, fmt), i) =>
      Schemas.FileDetail(i + 1L, "landing", "raw", s"$landing/$ds", pattern,
        "bronze", ds, fmt)
    }

  /** Ingests every config row, runs Silver per dataset, then writes the
    * three Gold reports. Returns one record per loaded file.
    */
  def pipeline(cat: Catalog, landing: String): Seq[Map[String, Any]] = {
    val loads = bronzeSilver(cat, landing, Datasets.map(_._1))
    gold(cat, cat.read("silver", _))
    loads
  }

  /** Ingests the config rows of `datasets`, then runs Silver per dataset.
    * Returns one record per loaded file.
    */
  def bronzeSilver(cat: Catalog, landing: String, datasets: Seq[String]): Seq[Map[String, Any]] = {
    val ing = new Ingestion(cat)
    val silver = new SilverTransforms(cat)
    val loads = config(landing).filter(d => datasets.contains(d.target_table)).map { d =>
      d.target_table -> tracer.span(s"ingestion.${d.target_table}") {
        op(s"ingest ${d.target_table}")(ing.ingest(d))(r =>
          (math.max(1, r.size), r.count(_._3 < 0)))
      }.getOrElse(Seq.empty)
    }
    val batches = datasets.map { ds =>
      ds -> tracer.span(s"silver.$ds") {
        op(s"silver $ds")(silver.runAll(only = Some(ds))) { r =>
          val b = r.values.flatten
          (math.max(1, b.size), b.count(_._2 < 0))
        }
      }.flatMap(_.get(ds)).getOrElse(Seq.empty).toMap
    }.toMap
    loads.flatMap { case (ds, files) =>
      files.map { case (file, loadId, rows) =>
        Map("dataset" -> ds, "file" -> new org.apache.hadoop.fs.Path(file).getName,
          "load_id" -> loadId, "bronze" -> rows,
          "silver" -> batches(ds).getOrElse(loadId, -2L))
      }
    }
  }

  /** Writes Gold reports from the Silver tables `silver` reads. */
  def gold(cat: Catalog, silver: String => DataFrame,
      reports: Seq[(String, (String => DataFrame) => DataFrame)] = GoldReports): Unit =
    reports.foreach { case (name, report) =>
      tracer.span(s"gold.$name") {
        op(s"gold $name")(cat.overwrite(report(silver), "gold", name))(one)
      }
    }

  /** Set-up batch: a few days of other files through the same calls as
    * `pipeline`, so the session is warm when the timed run starts. One
    * dataset per thread, each into a warehouse of its own (a ledger takes
    * one writer at a time), then one Gold report per thread over those
    * Silver tables.
    */
  def warmup(landing: String): Seq[Map[String, Any]] = {
    val pool = Executors.newFixedThreadPool(Datasets.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val cats = Datasets.map { case (ds, _, _) => ds -> new Catalog(spark, s"$work/wh-warmup/$ds") }
      def all[T](xs: Seq[Future[T]]): Seq[T] = Await.result(Future.sequence(xs), Duration.Inf)
      val loads = all(cats.map { case (ds, cat) => Future(bronzeSilver(cat, landing, Seq(ds))) })
      val first = cats.head._2
      val read = (t: String) =>
        cats.map(_._2).find(_.exists("silver", t)).getOrElse(first).read("silver", t)
      all(GoldReports.map(r => Future(gold(first, read, Seq(r)))))
      loads.flatten
    } finally pool.shutdown()
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def treeFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(Files.isRegularFile(_)).toLong
  }

  /** A year of data lands as one file per dataset. Set-up first runs the
    * same batch over a few days of other files into a warehouse of its
    * own, so the session is warm. Timed: one batch run ingest → Silver →
    * Gold. Then a re-ingest that must load nothing, and seeded date-range
    * dashboard reads against the warehouse the run built.
    */
  def medallion(rounds: Int): Unit = {
    val (warmLoads, warmS) = setup(timed(warmup(s"$input/warmup/landing")))
    out("warmup_loads") = warmLoads
    out("setup_once_s") = warmS
    val landing = s"$input/landing"
    val wh = s"$work/wh"
    val cat = new Catalog(spark, wh)
    tracer.iter = 0
    if (trace) tracer.on()
    val (loads, runS) = timed(countFs("pipeline.fs") {
      tracer.span("pipeline")(pipeline(cat, landing))
    })
    sample("land_to_output_s", runS)
    out("loads") = loads
    out("warehouse") = wh
    facts("ledger_files") = treeFiles(s"$wh/admin")
    facts("stored_bytes") = treeBytes(wh)
    facts("landed_bytes") = treeBytes(landing)
    // idempotency: re-running one config row must load nothing (one row
    // keeps the run short; every row shares the same ledger skip path)
    val d = config(landing).head
    val (again, reS) = timed(tracer.span("reingest") {
      op(s"re-ingest ${d.target_table}")(new Ingestion(cat).ingest(d))(r =>
        (1, if (r.isEmpty) 0 else 1)).map(_.size).getOrElse(-1)
    })
    facts("reingest_s") = reS
    out("reingested") = again
    // set-up of the read phase: one call of every query shape per round
    val warm = setup((0 until rounds).map { _ =>
      timed(Queries.indices.foreach(i =>
        dashCall(cat, i, "2025-03-01", "2025-03-20")))._2
    })
    out("setup_rounds_s") = warm
    val rng = new scala.util.Random(seed)
    val first = java.time.LocalDate.parse("2025-01-01")
    val calls = mutable.ArrayBuffer.empty[Any]
    // one unit = one call of every query shape, then one daily summary
    loop("dashboard", min = 1, max = 10000) { _ =>
      Queries.indices.foreach { i =>
        val a = rng.nextInt(360)
        val d1 = first.plusDays(a)
        val d2 = d1.plusDays(rng.nextInt(math.min(60, 364 - a) + 1))
        val (r, s) = timed(dashCall(cat, i, d1.toString, d2.toString))
        sample("call_ms", s * 1000)
        r.foreach(calls += _)
      }
      val d = first.plusDays(rng.nextInt(365)).toString
      val (r, s) = timed(summaryCall(cat, d))
      sample("summary_ms", s * 1000)
      r.foreach(doc => calls += Map("fn" -> "dailySummary", "d1" -> d, "doc" -> doc))
    }
    out("calls") = calls.toSeq
  }

  /** (name, Silver table, query, value column summed for the check). */
  val Queries: IndexedSeq[(String, String, (DataFrame, String, String) => DataFrame, Option[String])] =
    IndexedSeq(
      ("visits", "timeline_segments", Dashboard.visits _, None),
      ("movements", "timeline_segments", Dashboard.movements _, None),
      ("logs", "manual_logs", Dashboard.logs _, None),
      ("transactions", "transactions", Dashboard.transactions _, None),
      ("flights", "flight_logs", Dashboard.flights _, None),
      ("sleep", "sleep_scores", Dashboard.sleep _, None),
      ("dailySteps", "steps_hourly", Dashboard.dailySteps _, Some("total_steps")),
      ("spendByType", "transactions", Dashboard.spendByType _, Some("total_amount")),
      ("topTransactions", "transactions",
        (df: DataFrame, a: String, b: String) => Dashboard.topTransactions(df, a, b), None),
      ("distanceByMode", "timeline_segments", Dashboard.distanceByMode _, Some("n_segments")))

  /** One dashboard interaction: read the Silver table, query, collect. */
  def dashCall(cat: Catalog, i: Int, d1: String, d2: String): Option[Map[String, Any]] = {
    val (name, table, q, value) = Queries(i)
    tracer.span(s"dashboard.$name") {
      op(s"dashboard $name")(q(cat.read("silver", table), d1, d2).collect())(one)
    }.map { rows =>
      val total = value.fold(0.0)(c => rows.map(r =>
        Option(r.getAs[Any](c)).fold(0.0)(_.toString.toDouble)).sum)
      Map("fn" -> name, "d1" -> d1, "d2" -> d2, "rows" -> rows.length,
        "total" -> total)
    }
  }

  def summaryCall(cat: Catalog, d: String): Option[String] = {
    def s(t: String) = cat.read("silver", t)
    tracer.span("dashboard.summary") {
      op("dailySummary")(Gold.dailySummary(d, s("daily_spend"), s("steps_hourly"),
        s("sleep_scores"), s("manual_logs"), s("flight_logs"),
        s("timeline_segments")))(one)
    }
  }

  // ── streaming dedup ──────────────────────────────────────────────────

  /** Lands the waves of one pass one at a time. Each wave is written only
    * after the previous `dedupMaintain` call returned, and the checkpoint
    * persists across calls, so each call processes exactly one new wave.
    * Returns the final verdicts and the number of state files.
    */
  def streamPass(waves: String, root: String, timedCalls: Boolean): (Seq[Seq[Any]], Long) = {
    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))
    val files = Files.list(Paths.get(waves)).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    var verdicts: Option[DataFrame] = None
    files.foreach { f =>
      Files.copy(f, Paths.get(s"$src/${f.getFileName}"))
      val (r, s) = timed(tracer.span("stream.call") {
        op("dedupMaintain")(EventStream.dedupMaintain(spark,
          spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").json(src),
          s"$root/state", checkpoint = Some(s"$root/cp")))(one)
      })
      if (r.nonEmpty) verdicts = r
      if (timedCalls) sample("call_ms", s * 1000)
    }
    val rows = verdicts.fold(Seq.empty[Seq[Any]])(_.select("doc_id", "is_dup",
      "best_match", "best_jaccard").collect().toSeq.map(_.toSeq))
    (rows, treeFiles(s"$root/state"))
  }

  /** Passes of small waves through `dedupMaintain`, each on fresh state. */
  def stream(rounds: Int): Unit = {
    val passes = Files.list(Paths.get(s"$input/waves")).iterator().asScala
      .map(_.toString).toSeq.sorted
    // set-up: the first passes run untimed and warm the session up
    val warm = setup((0 until rounds).map { r =>
      timed(streamPass(passes(r), s"$work/stream-warmup-$r", timedCalls = false))._2
    })
    out("setup_rounds_s") = warm
    val results = mutable.ArrayBuffer.empty[Any]
    loop("stream", min = 1, max = passes.size - rounds) { k =>
      val root = s"$work/stream-$k"
      val pass = passes(k + rounds)
      val ((rows, stateFiles), s) = timed(tracer.span("stream.pass") {
        streamPass(pass, root, timedCalls = true)
      })
      sample("land_to_output_s", s)
      sample("stored_bytes_ratio", treeBytes(s"$root/state").toDouble / treeBytes(pass))
      if (k == 0) facts("state_files") = stateFiles
      results += Map("pass" -> Paths.get(pass).getFileName.toString,
        "verdicts" -> rows)
    }
    out("passes") = results.toSeq
  }

  // ── per-layer metrics of the traced run ──────────────────────────────

  def layers(): Unit = {
    val spans = tracer.spans.toSeq
    val m = mutable.LinkedHashMap.empty[String, Any]
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else {
        val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
      }
    def named(p: String, iter: Int = -1) = spans.filter(s =>
      s.name.startsWith(p) && (iter < 0 || s.iter == iter))
    def tot(ss: Seq[Span]): Counters = {
      val c = new Counters; ss.foreach(s => c.add(tracer.total(s.id))); c
    }
    def self(ss: Seq[Span]): Double = ss.map(s => tracer.selfSeconds(s.id)).sum
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def fs(key: String, op: String): Long = facts.get(key)
      .fold(0L)(_.asInstanceOf[Map[String, Long]](op))
    val loads = out.getOrElse("loads", Seq.empty).asInstanceOf[Seq[Map[String, Any]]]

    // ingestion, Silver and Gold: the one timed batch run
    val ing = tot(named("ingestion."))
    m("ingestion.s") = self(named("ingestion."))
    m("ingestion.jobs_per_file") = ratio(ing.jobs.toDouble, loads.size)
    m("ingestion.tasks") = ing.tasks
    m("ingestion.files_loaded") = loads.size
    m("ingestion.rows_loaded") = loads.map(_("bronze").asInstanceOf[Long]).filter(_ > 0).sum
    m("ingestion.skipped") = if (out.get("reingested").contains(0)) 1 else 0
    m("ingestion.failed") = errors.count(_.startsWith("ingest ")) +
      errors.count(_.startsWith("re-ingest "))
    val sil = tot(named("silver."))
    val batches = loads.count(_("silver").asInstanceOf[Long] >= 0)
    m("silver.s") = self(named("silver."))
    m("silver.batches") = batches
    m("silver.jobs_per_batch") = ratio(sil.jobs.toDouble, batches)
    m("silver.tasks") = sil.tasks
    m("silver.shuffle_bytes") = sil.shuffleWrite
    m("silver.spill_bytes") = sil.spill
    m("silver.failed") = errors.count(_.startsWith("silver "))
    Datasets.foreach { case (ds, _, _) => m(s"silver.$ds.s") = self(named(s"silver.$ds")) }
    GoldReports.foreach { case (r, _) => m(s"gold.$r.s") = self(named(s"gold.$r")) }
    val gold = tot(named("gold."))
    m("gold.jobs") = gold.jobs
    m("gold.shuffle_bytes") = gold.shuffleWrite
    // catalog: storage operations of the batch run, and the re-ingest
    m("catalog.read_ops") = fs("pipeline.fs", "read_ops")
    m("catalog.list_ops") = fs("pipeline.fs", "list_ops")
    m("catalog.write_ops") = fs("pipeline.fs", "write_ops")
    m("catalog.bytes_written") = fs("pipeline.fs", "bytes_written")
    m("catalog.files_written") = tot(named("pipeline")).filesWritten
    m("catalog.ledger_files") = facts.getOrElse("ledger_files", 0L)
    m("catalog.reingest_s") = facts.getOrElse("reingest_s", 0.0)
    // dashboard: times over every call, counts over the first loop unit
    val dq = named("dashboard.").filter(s => s.name != "dashboard.summary" && s.iter >= 0)
    val dc = dq.map(s => tracer.total(s.id))
    m("dashboard.planning_ms") = median(dc.map(_.planningMs))
    m("dashboard.exec_ms") = median(dc.map(_.execMs))
    val dq0 = dq.filter(_.iter == 0)
    val dqc = tot(dq0)
    m("dashboard.jobs_per_query") = ratio(dqc.jobs.toDouble, dq0.size)
    m("dashboard.tasks_per_query") = ratio(dqc.tasks.toDouble, dq0.size)
    m("dashboard.fs_ops_per_query") = ratio((fs("dashboard.fs", "read_ops") +
      fs("dashboard.fs", "list_ops")).toDouble, dq0.size + 1)
    val sum0 = named("dashboard.summary", 0)
    m("dashboard.summary_jobs_per_call") = ratio(tot(sum0).jobs.toDouble, sum0.size)
    m("dashboard.query_ms") =
      if (dq.isEmpty) 0.0 else median(samples.getOrElse("traced.call_ms", Seq.empty).toSeq)
    m("dashboard.summary_ms") = median(samples.getOrElse("traced.summary_ms", Seq.empty).toSeq)
    // stream: micro-batch progress phases inside the maintainer calls
    val calls = named("stream.call").filter(_.iter >= 0)
    val prog = tracer.progress.asScala.toSeq.filter { p =>
      val id = tracer.spanAt(p._1)
      id >= 0 && spans(id).iter >= 0
    }
    def phase(k: String) = median(prog.map(_._2.getOrElse(k, 0L).toDouble))
    m("stream.trigger_ms") = phase("triggerExecution")
    m("stream.add_batch_ms") = phase("addBatch")
    m("stream.latest_offset_ms") = phase("latestOffset")
    m("stream.wal_commit_ms") = phase("walCommit")
    m("stream.commit_offsets_ms") = phase("commitOffsets")
    m("stream.query_planning_ms") = phase("queryPlanning")
    m("stream.start_stop_ms") = median(calls.map { c =>
      val inCall = prog.filter(p => p._1 >= c.startMs && p._1 <= c.endMs)
      c.seconds * 1000 - inCall.map(_._2.getOrElse("triggerExecution", 0L)).sum
    })
    val calls0 = calls.filter(_.iter == 0)
    m("stream.jobs_per_batch") = ratio(tot(calls0).jobs.toDouble, calls0.size)
    m("stream.state_files") = facts.getOrElse("state_files", 0L)
    // engine and JVM: the batch run, or the first timed stream pass
    val all = tot(named("pipeline") ++ named("stream.pass", 0))
    m("spark.jobs") = all.jobs
    m("spark.stages") = all.stages
    m("spark.tasks") = all.tasks
    m("spark.shuffle_read_bytes") = all.shuffleRead
    m("spark.shuffle_write_bytes") = all.shuffleWrite
    m("spark.spill_bytes") = all.spill
    m("spark.executor_run_ms") = all.runMs
    m("spark.executor_cpu_ms") = all.cpuNs / 1e6
    m("spark.peak_exec_mem_mb") = all.peakMem / 1048576.0
    System.gc()
    val rt = Runtime.getRuntime
    m("jvm.retained_heap_mb") = (rt.totalMemory - rt.freeMemory) / 1048576.0
    out("layers") = m
    out("span_count") = spans.size
  }
}
