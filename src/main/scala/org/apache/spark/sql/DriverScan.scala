package org.apache.spark.sql

import java.io.Closeable

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{FileSourceMetadataAttribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Reads of small parquet files on the driver, without a Spark job, by
  * Spark's own parquet reader (`ParquetFileFormat`, built with the
  * session's settings) and no other decoder. Nothing is held between
  * calls: every call decodes its files again.
  */
object DriverScan {

  /** `df` with each small parquet table it reads replaced by that table's
    * rows, decoded on the driver into a `LocalRelation` with the same
    * output attributes. Spark's optimizer then evaluates filters and
    * projections over those rows on the driver, so a filter-and-project
    * query over such tables collects without a Spark job, and any other
    * query runs its jobs over in-memory rows instead of a file scan.
    *
    * A table qualifies when it is a non-streaming, non-bucketed parquet
    * relation read without `_metadata` columns whose files total at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes: the size below which
    * Spark already collects a relation to the driver for a broadcast join.
    * `-1` disables it. Other leaves stay file scans, and a plan without a
    * qualifying leaf comes back as `df` itself.
    *
    * The rows are those of the files listed when the relation was built
    * (as a scan reads them); a file deleted since fails the call as a scan
    * would. Partition values come from that listing.
    */
  def apply(df: DataFrame): DataFrame = {
    val session = castToImpl(df.sparkSession)
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    val plan = df.queryExecution.analyzed
    val local = plan.transformUp {
      case r @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.bucketSpec.isEmpty &&
            !r.output.exists(a => FileSourceMetadataAttribute.isValid(a.metadata)) &&
            fs.location.sizeInBytes <= threshold =>
        LocalRelation(r.output, rows(r, fs))
    }
    if (local eq plan) df else classic.Dataset.ofRows(session, local)
  }

  /** The rows of each of `files`, parquet files of columns `data`, laid
    * out as `required` (columns matched by name, as a read with schema
    * `data` followed by a select of `required` matches them).
    */
  def files(session: SparkSession, files: Seq[FileStatus], data: StructType,
      required: StructType): Seq[Seq[InternalRow]] =
    decode(castToImpl(session), Map.empty, data, new StructType(), required,
      UnsafeProjection.create(required),
      files.map(FileStatusWithMetadata(_, Map.empty) -> InternalRow.empty))

  /** Every row of `fs` as laid out by `r.output`. */
  private def rows(r: LogicalRelation, fs: HadoopFsRelation): Seq[InternalRow] = {
    val session = castToImpl(fs.sparkSession)
    val resolver = session.sessionState.conf.resolver
    val partition =
      fs.partitionSchema.map(f => r.output.find(a => resolver(a.name, f.name)).get)
    val data = r.output.filterNot(partition.contains)
    decode(session, fs.options, fs.dataSchema, fs.partitionSchema,
      DataTypeUtils.fromAttributes(data),
      UnsafeProjection.create(r.output, data ++ partition),
      fs.location.listFiles(Nil, Nil).flatMap(d => d.files.map(_ -> d.values)))
      .flatten
  }

  /** Decodes each of `files` (with its partition values) into rows of
    * `required` followed by `partition`, each copied through `project`.
    */
  private def decode(session: classic.SparkSession, options: Map[String, String],
      data: StructType, partition: StructType, required: StructType,
      project: UnsafeProjection,
      files: Seq[(FileStatusWithMetadata, InternalRow)]): Seq[Seq[InternalRow]] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, data, partition, required, Nil,
      options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(options))
    files.map { case (f, values) =>
      val it = read(PartitionedFileUtil.getPartitionedFile(f, f.getPath, values,
        0, f.getLen))
      try it.map(project(_).copy()).toVector
      finally it match { case c: Closeable => c.close(); case _ => }
    }
  }
}
