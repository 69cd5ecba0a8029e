package graft.pipeline

import org.apache.spark.sql.{DataFrame, DriverScan}
import org.apache.spark.sql.functions._

/** The interactive dashboard's query surface
  * (`/root/reference/streamlit/travel_and_movement_map.py:89-128`): each of
  * the seven date-range SQL strings becomes a parameterized DataFrame
  * function over Silver tables, with the client-side pandas analytics
  * (pivot, top-k, means — SURVEY.md §3.2) moved into the engine. Rendering
  * concerns (colors, arcs, tooltips) stay out, as presentation.
  *
  * Each function reads its input through [[DriverScan]]: a parquet table
  * of at most `spark.sql.autoBroadcastJoinThreshold` bytes (a Silver table
  * of a few MB) is decoded on the driver, so the filter-and-project reads
  * (`visits`, `movements`, `logs`, `transactions`, `flights`, `sleep`)
  * collect without a Spark job, and the rollups and the top-k run their
  * jobs over in-memory rows instead of a file scan. A larger table, or a
  * threshold of `-1`, keeps the file scan. Either way a read sees the
  * files listed when its input relation was built (by `Catalog.read`),
  * and a file deleted before the call decodes it fails the call as a scan
  * would.
  */
object Dashboard {

  /** Visits with coordinates in range (`:89-95`). */
  def visits(segments: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(segments)
      .where(col("segment_type") === "VISIT" &&
        to_date(col("start_time")).between(d1, d2) &&
        col("visit_latitude").isNotNull && col("visit_longitude").isNotNull)
      .select(col("start_time"), col("end_time"), col("place_id"),
        col("visit_latitude").as("lat"), col("visit_longitude").as("lon"),
        col("confidence"))

  /** Movement segments, non-flying (`:103-122`). */
  def movements(segments: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(segments)
      .where(col("segment_type") === "ACTIVITY" &&
        col("activity_type") =!= "FLYING" &&
        to_date(col("start_time")).between(d1, d2) &&
        col("start_latitude").isNotNull && col("end_latitude").isNotNull)
      .select(col("start_time"), col("end_time"), col("activity_type"),
        col("start_latitude"), col("start_longitude"),
        col("end_latitude"), col("end_longitude"), col("distance_meters"))

  /** Itinerary logs in range (`:124`). */
  def logs(manualLogs: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(manualLogs).where(col("log_date").between(d1, d2))

  /** Transactions in range (`:125`). */
  def transactions(silverTx: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(silverTx).where(col("date").between(d1, d2))

  /** Flights in range (`:126`). */
  def flights(flightLogs: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(flightLogs).where(col("flight_date").between(d1, d2))

  /** Sleep in range keyed by wake-up date (`:127`). */
  def sleep(sleepScores: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(sleepScores).where(col("wake_up_date").between(d1, d2))

  /** Daily steps rollup (`:128`). */
  def dailySteps(stepsHourly: DataFrame, d1: String, d2: String): DataFrame =
    DriverScan(stepsHourly).where(col("date").between(d1, d2))
      .groupBy(col("date"))
      .agg(sum(col("steps")).as("total_steps"))

  /** Engine-side versions of the client-side pandas analytics (`:199-223`):
    * spend pivot by type, top-k transactions, per-mode distance.
    */
  def spendByType(silverTx: DataFrame, d1: String, d2: String): DataFrame =
    transactions(silverTx, d1, d2)
      .groupBy(col("type"))
      .agg(sum(col("amount")).as("total_amount"),
        avg(col("amount")).as("mean_amount"))

  def topTransactions(silverTx: DataFrame, d1: String, d2: String,
      k: Int = 5): DataFrame =
    transactions(silverTx, d1, d2)
      .orderBy(col("amount").desc_nulls_last, col("name"))
      .limit(k)

  def distanceByMode(segments: DataFrame, d1: String, d2: String): DataFrame =
    movements(segments, d1, d2)
      .groupBy(col("activity_type"))
      .agg((sum(col("distance_meters")) / 1000.0).as("total_km"),
        count(lit(1)).as("n_segments"))
}
