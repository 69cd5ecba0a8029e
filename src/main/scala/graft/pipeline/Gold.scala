package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, DriverScan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold-layer report builders (reference SQL stored procedures + the two
  * procs that are called but missing from the snapshot, SURVEY.md §2.10).
  * Each is a pure DataFrame function over Silver inputs; materialization is
  * the caller's `catalog.overwrite` (CTAS semantics, S12/S13).
  */
object Gold {

  /** SP_FULL_TRAVEL_COST (`/root/reference/sql/sp_full_travel_costs.sql`):
    * latest-file-batch spending (W1) + latest-per-date logs (W2) →
    * category pivot (A5) + ordered comment listagg (A6) → left join (J1) →
    * running total / guarded daily average (W3/W4), date-ordered (W5).
    */
  def fullTravelCost(spending: DataFrame, manualLogs: DataFrame): DataFrame = {
    val spark = spending.sparkSession
    import spark.implicits._

    // LOGIC 1 (sp_full_travel_costs.sql:14-17): all rows of newest load per file
    val latestSpend = spending
      .withColumn("max_load",
        max($"load_id").over(Window.partitionBy($"_source_file")))
      .where($"load_id" === $"max_load")
    // LOGIC 2 (:21-24): one row per date, latest load wins
    val latestLogs = manualLogs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"date").orderBy($"load_id".desc)))
      .where($"rn" === 1)

    // 3 (:27-44): pivot + LISTAGG (Snowflake LISTAGG skips nulls → filter)
    def cat(name: String) =
      sum(when(upper(trim($"type")) === name, $"amount").otherwise(0.0))
    val pivot = latestSpend
      .withColumn("join_date", expr("try_cast(date as date)"))
      .where($"join_date".isNotNull)
      .groupBy($"join_date")
      .agg(
        cat("HOTEL").as("hotel_cost"), cat("FOOD").as("food_cost"),
        cat("ACTIVITY").as("activity_cost"), cat("TRAVEL").as("travel_cost"),
        cat("MISC").as("misc_cost"),
        array_join(array_sort(collect_list($"comments")), "; ").as("cost_comment"))

    // 4 (:48-77): left join, coalesce to 0, daily total
    val joined = latestLogs
      .withColumn("order_date", expr("try_cast(date as date)"))
      .join(pivot, $"order_date" === $"join_date", "left")
      .select(
        $"day", $"date", $"order_date", $"city", $"country", $"description",
        $"comments".as("log_comment"), $"food".as("food_desc"),
        $"travel".as("travel_desc"), $"hotel".as("hotel_desc"),
        coalesce($"hotel_cost", lit(0.0)).as("hotel"),
        coalesce($"food_cost", lit(0.0)).as("food"),
        coalesce($"activity_cost", lit(0.0)).as("activity"),
        coalesce($"travel_cost", lit(0.0)).as("travel"),
        coalesce($"misc_cost", lit(0.0)).as("misc"),
        $"cost_comment")
      .withColumn("total",
        $"hotel" + $"food" + $"activity" + $"travel" + $"misc")

    // 5 (:81-110): running windows over the (single-digit-MB) report rows
    val w = Window.orderBy($"order_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("running_total", sum($"total").over(w))
      .withColumn("daily_avg",
        when($"day" > 0, $"running_total" / $"day").otherwise(0.0))
      .select($"day", $"date", $"city", $"country", $"description",
        $"hotel", $"food", $"activity", $"travel", $"misc", $"total",
        $"running_total", $"daily_avg", $"cost_comment",
        $"log_comment".as("comments"), $"food_desc", $"travel_desc",
        $"hotel_desc", $"order_date")
      .orderBy($"order_date")
  }

  /** SP_TRAVEL_TAX_REPORT (`sp_travel_tax_report.sql:27-118`): deduped
    * flight/sleep/HR rollups, full-outer date-shifted join (J2), left HR
    * join (J3), recovery-status CASE (F6).
    */
  def travelTaxReport(flightLogs: DataFrame, sleepScores: DataFrame,
      hrHourly: DataFrame): DataFrame = {
    val spark = flightLogs.sparkSession
    import spark.implicits._

    // STEP A (:29-37)
    val cleanFlights = flightLogs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"date", $"flight_number").orderBy($"load_id".desc)))
      .where($"rn" === 1)
      .select($"flight_date", $"to".as("arrival_airport"), $"duration_hours")
    // STEP B (:40-47)
    val dailyFlights = cleanFlights
      .groupBy($"flight_date")
      .agg(
        sum($"duration_hours").as("total_flight_hours"),
        count(lit(1)).as("flight_count"),
        array_join(array_sort(array_distinct(
          collect_list($"arrival_airport"))), ", ").as("destinations"))
    // STEP C (:51-59)
    val cleanSleep = sleepScores
      .withColumn("rn", row_number().over(
        Window.partitionBy($"sleep_log_entry_id").orderBy($"load_id".desc)))
      .where($"rn" === 1)
      .select($"wake_up_date", $"overall_score", $"deep_sleep_in_minutes",
        $"resting_heart_rate")
    // STEP D (:62-81)
    val hrDedup = hrHourly
      .withColumn("rn", row_number().over(
        Window.partitionBy($"date", $"hour").orderBy($"load_id".desc)))
      .where($"rn" === 1)
    val dailyHr = hrDedup
      .groupBy($"date".as("hr_date"))
      .agg(min($"hr_min").as("daily_min_hr"), max($"hr_max").as("daily_max_hr"),
        avg($"hr_mean").as("daily_avg_hr"))

    dailyFlights.as("f")
      .join(cleanSleep.as("s"),
        $"f.flight_date" === date_sub($"s.wake_up_date", 1), "full_outer")
      .join(dailyHr.as("h"), $"s.wake_up_date" === $"h.hr_date", "left")
      .select(
        coalesce($"f.flight_date", date_sub($"s.wake_up_date", 1))
          .as("report_date"),
        coalesce($"f.total_flight_hours" > 0, lit(false)).as("is_travel_day"),
        coalesce($"f.total_flight_hours", lit(0.0)).as("total_flight_hours"),
        coalesce($"f.flight_count", lit(0L)).as("flight_count"),
        coalesce($"f.destinations", lit("No Travel")).as("destination_city"),
        $"s.overall_score".as("next_day_sleep_score"),
        $"s.deep_sleep_in_minutes".as("next_day_deep_sleep_min"),
        $"s.resting_heart_rate".as("next_day_resting_hr"),
        ($"h.daily_max_hr" - $"h.daily_min_hr").as("next_day_hr_variability"),
        when($"f.total_flight_hours" > 4 && $"s.overall_score" < 70, "High Strain")
          .when($"s.overall_score" > 85, "Well Recovered")
          .otherwise("Normal").as("recovery_status"))
  }

  /** SP_TRANSPORT_MODE_ANALYSIS reconstruction (SURVEY.md §2.10; dashboard
    * contract `travel_and_movement_map.py:220-224`): ACTIVITY segments by
    * mode — total distance km, duration hours, counts, confidence.
    */
  def transportModeAnalysis(timelineSegments: DataFrame): DataFrame = {
    val spark = timelineSegments.sparkSession
    import spark.implicits._
    timelineSegments
      .where($"segment_type" === "ACTIVITY" && $"activity_type".isNotNull)
      .groupBy($"activity_type")
      .agg(
        (sum($"distance_meters") / 1000.0).as("total_distance_km"),
        (sum(unix_timestamp($"end_time") - unix_timestamp($"start_time")) / 3600.0)
          .as("total_duration_hours"),
        count(lit(1)).as("segment_count"),
        avg($"confidence").as("avg_confidence"))
      .orderBy($"total_distance_km".desc)
  }

  /** SP_GET_DAILY_TRAVEL_SUMMARY reconstruction (§2.10; field contract from
    * `streamlit/daily_travel_summary.py:32-102`): one nested JSON document
    * for a date — scalar metrics + per-section row arrays.
    *
    * One plan and one collect: a tagged union of the two totals (summed by
    * Spark) and the five row sections (each row already a JSON object),
    * sorted by (section, sort key) in one partition. No shuffle: the few
    * rows of a date meet in one task, and its sort is Spark's ascending
    * order (nulls first) and stable, so ties keep scan order as the
    * sections' own `orderBy` did. The six inputs are read through
    * [[DriverScan]], as the dashboard's are: small Silver tables are
    * decoded on the driver instead of scanned by a job.
    */
  def dailySummary(date: String, dailySpend: DataFrame, stepsHourly: DataFrame,
      sleepScores: DataFrame, manualLogs: DataFrame, flightLogs: DataFrame,
      timelineSegments: DataFrame): String = {
    val spark = dailySpend.sparkSession
    import spark.implicits._
    val d = to_date(lit(date))
    val spend = DriverScan(dailySpend).where($"date" === d)
    val steps = DriverScan(stepsHourly).where($"date" === d)

    // columns: tag, string sort key, numeric sort key, JSON row, spent, steps
    val none = lit(null)
    def section(tag: Int, df: DataFrame, skey: Column, nkey: Column,
        cols: Column*): DataFrame =
      df.select(lit(tag), skey.cast("string"), nkey.cast("long"),
        to_json(struct(cols: _*)), none.cast("double"), none.cast("long"))
    val totals = spend
      .select($"total_amount".as("spent"), none.cast("long").as("steps"))
      .unionByName(steps.select(none.cast("double").as("spent"), $"steps"))
      .agg(coalesce(sum($"spent"), lit(0.0)), coalesce(sum($"steps"), lit(0L)))
      .select(lit(0), none.cast("string"), none.cast("long"),
        none.cast("string"), col("*"))
    val rows = totals
      .union(section(1, spend, $"type", none,
        $"type", $"total_amount"))
      .union(section(2, DriverScan(sleepScores).where($"wake_up_date" === d), none,
        $"overall_score",
        $"overall_score", $"deep_sleep_in_minutes", $"resting_heart_rate"))
      .union(section(3, DriverScan(manualLogs).where($"log_date" === d), none, none,
        $"country", $"city", $"description", $"comments"))
      .union(section(4, DriverScan(flightLogs).where($"flight_date" === d),
        $"flight_number", none,
        $"flight_number", $"from", $"to", $"duration_hours"))
      .union(section(5,
        DriverScan(timelineSegments).where(to_date($"start_time") === d), none,
        unix_micros($"start_time"),
        $"start_time", $"end_time", $"segment_type", $"activity_type",
        $"distance_meters",
        $"visit_latitude".as("visit_lat"), $"visit_longitude".as("visit_lon"),
        $"start_latitude".as("start_lat"), $"start_longitude".as("start_lon"),
        $"end_latitude".as("end_lat"), $"end_longitude".as("end_lon")))
      .toDF("tag", "skey", "nkey", "json", "spent", "steps")
      .coalesce(1).sortWithinPartitions($"tag", $"skey", $"nkey")
      .collect()

    def json(tag: Int): String = rows.filter(_.getInt(0) == tag)
      .map(_.getString(3)).mkString("[", ",", "]")
    val total = rows.find(_.getInt(0) == 0).get

    s"""{"DATE":"$date","TOTAL_SPENT":${total.getDouble(4)},"TOTAL_STEPS":${total.getLong(5)},
       |"SPENDING_ITEMS":${json(1)},
       |"SLEEP_DATA":${json(2)},
       |"MANUAL_LOGS":${json(3)},
       |"FLIGHTS":${json(4)},
       |"TIMELINE_SEGMENTS":${json(5)}}""".stripMargin
  }
}
