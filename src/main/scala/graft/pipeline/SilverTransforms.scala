package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The seven Silver dataset processors (reference
  * `/root/reference/scripts/transformations/` python modules),
  * batch-incremental via
  * the transformation ledger: each run discovers pending load_ids
  * (Bronze ∖ SUCCESS — the reference's set difference, transactions.py:19-23,
  * taken on the driver against one ledger snapshot per run), transforms
  * only those batches, and writes idempotently (load_id-partitioned
  * dynamic overwrite).
  *
  * The public surface is [[runAll]], [[pendingLoadIds]] and the two
  * heart-rate rules ([[hrZone]], [[resolveHrColumns]]). The processors
  * are private: [[runAll]] calls each with the transformation-id
  * allocator of its one ledger snapshot, so every id it logs comes from
  * that snapshot.
  */
final class SilverTransforms(catalog: Catalog) {
  import catalog.spark
  import spark.implicits._

  private val ADMIN = "admin"
  private val BRONZE = "bronze"
  private val SILVER = "silver"

  /** One snapshot of the transformation ledger ([[Catalog.snapshot]]):
    * the SUCCESS load ids of each dataset, and an allocator of
    * transformation ids counting up from one past the ledger's largest.
    * [[runAll]] takes one per call and derives every pending set and every
    * id it logs from it (single-driver assumption, as for the load ids of
    * [[Ingestion.ingest]]).
    */
  private def ledger(): (Map[String, Set[Long]], Iterator[Long]) = {
    val rows = catalog.snapshot[Schemas.TransformationLog](ADMIN,
      "transformation_logs")
    val done = rows.filter(_.status == "SUCCESS")
      .groupMap(_.dataset_name)(_.load_id).view.mapValues(_.toSet).toMap
    val next = rows.map(_.transformation_id).maxOption.getOrElse(0L) + 1L
    (done, Iterator.iterate(next)(_ + 1))
  }

  /** J5: pending = the Bronze table's load ids minus the dataset's SUCCESS
    * ids (the reference's set difference, transactions.py:19-23). The
    * Bronze ids come from its partition directories ([[Catalog.loadIds]]).
    */
  def pendingLoadIds(dataset: String, reprocess: Boolean = false): Seq[Long] =
    pending(dataset, reprocess, ledger()._1)

  private def pending(dataset: String, reprocess: Boolean,
      done: Map[String, Set[Long]]): Seq[Long] = {
    if (!catalog.exists(BRONZE, dataset)) return Seq.empty
    val skip = if (reprocess) Set.empty[Long] else done.getOrElse(dataset, Set.empty)
    catalog.loadIds(BRONZE, dataset).filterNot(skip.contains).sorted
  }

  private def log(ids: Iterator[Long], dataset: String, loadId: Long,
      status: String, rows: Long, err: String = ""): Unit =
    catalog.appendRows(
      Seq(Schemas.TransformationLog(ids.next(), dataset, loadId,
        status, rows, err, new Timestamp(System.currentTimeMillis()))),
      ADMIN, "transformation_logs")

  private def bronzeBatch(dataset: String, loadId: Long): DataFrame =
    catalog.read(BRONZE, dataset).where($"load_id" === loadId)

  /** Run one processor for one batch with ledger bracketing, logging with
    * ids from `ids`; returns rows written (reference save_idempotent +
    * ledger, utils.py:36-101).
    */
  private def runBatch(ids: Iterator[Long], dataset: String, target: String,
      loadId: Long)(transform: DataFrame => DataFrame): Long = {
    try {
      val out = transform(bronzeBatch(dataset, loadId))
      val rows = writeBatch(out, target, loadId)
      log(ids, dataset, loadId, "SUCCESS", rows)
      rows
    } catch {
      case e: Exception =>
        log(ids, dataset, loadId, "FAILURE", 0L, String.valueOf(e.getMessage))
        throw e
    }
  }

  /** Rewrites one batch of a Silver table; returns the rows read back. */
  private def writeBatch(out: DataFrame, target: String, loadId: Long): Long = {
    catalog.overwriteBatch(out, SILVER, target)
    catalog.countBatch(SILVER, target, loadId)
  }

  // ── transactions (transformations/transactions.py): default missing
  //    type, strip [$,] from amounts, TRY date; plus the daily spend rollup.
  private def processTransactions(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "transactions", "transactions", loadId) { df =>
      df
        .withColumn("type",
          when($"type".isNull || trim($"type") === "", "uncategorized")
            .otherwise($"type"))
        .withColumn("amount",
          expr("try_cast(regexp_replace(amount, '[$,]', '') as double)"))
        .withColumn("date", expr("try_cast(date as date)"))
    }

  private def buildDailySpend(loadId: Long): Long = {
    val silver = catalog.read(SILVER, "transactions").where($"load_id" === loadId)
    val daily = silver
      .where($"date".isNotNull)
      .groupBy($"date", $"type", $"load_id")
      .agg(sum($"amount").as("total_amount"), count(lit(1)).as("n_transactions"))
    writeBatch(daily, "daily_spend", loadId)
  }

  // ── fitbit_heart_rate (fitbit_heart_rate.py): fuzzy column resolution,
  //    minute floor + agg, zone bucketing, hourly re-agg with zone-minute
  //    conditional counts.
  def hrZone(bpm: Column): Column =
    when(bpm.isNull, "Unknown")
      .when(bpm < 60, "Resting")
      .when(bpm < 100, "Normal")
      .when(bpm < 130, "Elevated")
      .otherwise("High")

  /** Reference fuzzy resolution (fitbit_heart_rate.py:51-55): time column
    * is `timestamp` or any column containing "time"; value column matches
    * value|rate|bpm|beats.
    */
  def resolveHrColumns(columns: Seq[String]): (String, String) = {
    val lower = columns.map(c => c -> c.toLowerCase)
    val audit = Set("_ingestion_time", "_source_file", "load_id")
    val cands = lower.filterNot(c => audit.contains(c._2))
    val timeCol = cands.find(_._2 == "timestamp")
      .orElse(cands.find(_._2.contains("time"))).map(_._1)
      .getOrElse(throw new IllegalArgumentException("no time column"))
    val valueCol = cands
      .find(c => c._2.matches(".*(value|rate|bpm|beats).*") && c._1 != timeCol)
      .map(_._1)
      .getOrElse(throw new IllegalArgumentException("no value column"))
    (timeCol, valueCol)
  }

  private def processHeartRate(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "fitbit_heart_rate", "heart_rate_minute", loadId) { df =>
      val (timeCol, valueCol) = resolveHrColumns(df.columns.toSeq)
      val m = df
        .select(
          expr(s"try_to_timestamp(`$timeCol`)").as("ts"),
          col(valueCol).cast("double").as("bpm"),
          $"load_id")
        .where($"ts".isNotNull)
        .groupBy(date_trunc("minute", $"ts").as("log_timestamp"), $"load_id")
        .agg(avg($"bpm").as("hr_mean"), min($"bpm").as("hr_min"),
          max($"bpm").as("hr_max"), count(lit(1)).as("n_readings"))
      m.withColumn("hr_zone", hrZone($"hr_mean"))
        .withColumn("date", to_date($"log_timestamp"))
        .withColumn("hour", hour($"log_timestamp"))
    }

  private def buildHeartRateHourly(loadId: Long): Long = {
    val m = catalog.read(SILVER, "heart_rate_minute").where($"load_id" === loadId)
    val hourly = m.groupBy($"date", $"hour", $"load_id")
      .agg(
        avg($"hr_mean").as("hr_mean"),
        min($"hr_min").as("hr_min"),
        max($"hr_max").as("hr_max"),
        sum(when($"hr_zone" === "Resting", 1L).otherwise(0L)).as("minutes_in_resting"),
        sum(when($"hr_zone" === "Normal", 1L).otherwise(0L)).as("minutes_in_normal"),
        sum(when($"hr_zone" === "Elevated", 1L).otherwise(0L)).as("minutes_in_elevated"),
        sum(when($"hr_zone" === "High", 1L).otherwise(0L)).as("minutes_in_high"))
    writeBatch(hourly, "heart_rate_hourly", loadId)
  }

  // ── fitbit_steps (fitbit_steps.py): hourly sums densified to all 24
  //    hours per date with 0-fill; load_id back-filled per date (J6).
  private def processSteps(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "fitbit_steps", "steps_hourly", loadId) { df =>
      val t = df
        .select(expr("try_to_timestamp(`timestamp`)").as("ts"),
          $"steps", $"load_id")
        .where($"ts".isNotNull)
      val hourly = t
        .groupBy(to_date($"ts").as("date"), hour($"ts").as("hour"))
        .agg(sum($"steps").as("steps"), max($"load_id").as("load_id"))
      val scaffold = t.select(to_date($"ts").as("date")).distinct()
        .select($"date", explode(sequence(lit(0), lit(23))).as("hour"))
      val dateLoad = hourly.groupBy($"date").agg(max($"load_id").as("date_load_id"))
      scaffold
        .join(hourly, Seq("date", "hour"), "left")
        .join(dateLoad, Seq("date"), "left")
        .select($"date", $"hour",
          coalesce($"steps", lit(0L)).as("steps"),
          coalesce($"load_id", $"date_load_id").as("load_id"))
    }

  // ── fitbit_sleep_score (sleep dedup key sleep_log_entry_id,
  //    sp_travel_tax_report.sql:57): latest batch wins.
  private def processSleep(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "fitbit_sleep_score", "sleep_scores", loadId) { df =>
      df.select(
        $"sleep_log_entry_id",
        expr("try_to_timestamp(`timestamp`)").as("wake_up_time"),
        to_date(expr("try_to_timestamp(`timestamp`)")).as("wake_up_date"),
        $"overall_score", $"composition_score", $"revitalization_score",
        $"duration_score", $"deep_sleep_in_minutes", $"resting_heart_rate",
        $"restlessness", $"_source_file", $"load_id")
    }

  // ── manual_logs: canonical `country` naming (SURVEY.md §1.4 drift fix),
  //    typed date.
  private def processManualLogs(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "manual_logs", "manual_logs", loadId) { df =>
      df.withColumn("log_date", expr("try_cast(date as date)"))
    }

  // ── flight_logs: typed date, HH:MM duration → hours
  //    (sp_travel_tax_report.sql:32-33: HOUR + MINUTE/60).
  private def processFlightLogs(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "flight_logs", "flight_logs", loadId) { df =>
      df
        .withColumn("flight_date", expr("try_cast(date as date)"))
        .withColumn("duration_hours",
          expr("try_cast(split_part(duration, ':', 1) as double)") +
            expr("try_cast(split_part(duration, ':', 2) as double)") / 60.0)
    }

  // ── google_timeline: VARIANT flatten (TimelineFlatten).
  private def processTimeline(ids: Iterator[Long])(loadId: Long): Long =
    runBatch(ids, "google_timeline", "timeline_segments", loadId)(TimelineFlatten.flatten)

  /** Run every processor for all pending batches (the transformation DAG,
    * transformation_logic.py:12-56). `only` mirrors the DAG's
    * `transformation` run-parameter (restrict to one dataset,
    * transformation_logic.py:30-38). Returns dataset → rows per batch.
    * One ledger snapshot serves the whole call.
    */
  def runAll(reprocess: Boolean = false,
      only: Option[String] = None): Map[String, Seq[(Long, Long)]] = {
    val (done, ids) = ledger()
    def run(ds: String, f: Long => Long): (String, Seq[(Long, Long)]) =
      if (only.exists(_ != ds)) ds -> Seq.empty
      else ds -> pending(ds, reprocess, done).map { id =>
        id -> (try f(id) catch { case _: Exception => -1L })
      }
    Map(
      run("transactions", id => {
        val n = processTransactions(ids)(id); buildDailySpend(id); n
      }),
      run("fitbit_heart_rate", id => {
        val n = processHeartRate(ids)(id); buildHeartRateHourly(id); n
      }),
      run("fitbit_steps", processSteps(ids)),
      run("fitbit_sleep_score", processSleep(ids)),
      run("manual_logs", processManualLogs(ids)),
      run("flight_logs", processFlightLogs(ids)),
      run("google_timeline", processTimeline(ids)))
  }
}
