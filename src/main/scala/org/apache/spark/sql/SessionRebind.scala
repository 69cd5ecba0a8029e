package org.apache.spark.sql

/** Access to Spark's `private[sql]` `Dataset.ofRows` for graft. */
object SessionRebind {

  /** `df`'s logical plan as a DataFrame of `session`. The plan is reused
    * as it is (a foreachBatch micro-batch's is a scan of the batch's
    * already-built RDD), so no row is converted; every plan built on the
    * result is planned and run in `session`.
    */
  def apply(session: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    classic.Dataset.ofRows(castToImpl(session), df.queryExecution.logical)
  }
}
