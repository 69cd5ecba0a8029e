package graft.pipeline

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.reflect.{ClassTag, classTag}
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{AnalysisException, DataFrame, DriverScan, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Path-based medallion warehouse: `schema.table` → `<root>/<schema>/<table>`
  * parquet directories. Replaces the reference's Snowflake schemas
  * (`sql/reset_schemas.sql:9-12`) with a storage layout that scales to a
  * distributed filesystem unchanged.
  *
  * Batch idempotency (the reference's DELETE WHERE load_id + re-insert,
  * `transformations/utils.py:36-43`) maps to `load_id`-partitioned writes
  * with dynamic partition overwrite: rewriting a batch replaces exactly its
  * partition directories, atomically per partition — no transactional store
  * needed (SURVEY.md §7.4 risk 4). The mode is an option of that one write,
  * so a Catalog leaves its session's `partitionOverwriteMode` as it was.
  */
final class Catalog(val spark: SparkSession, val root: String) {

  def path(schema: String, table: String): String = s"$root/$schema/$table"

  /** All filesystem control-plane calls go through the Hadoop FileSystem
    * API (same seam [[Ingestion.listFiles]] uses), so the catalog runs
    * unchanged against HDFS/S3A at 100 TB — `java.nio` would silently pin
    * it to a local disk.
    */
  private def fs(p: String): FileSystem =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(schema: String, table: String): Boolean = {
    val p = path(schema, table)
    fs(p).exists(new HPath(p))
  }

  /** Reads a table. A table whose last write went through a Catalog is
    * read with the schema that write produced, so the read runs no
    * schema-inference job (Spark runs one per parquet read without a
    * schema). Any other table infers its schema from its files, as
    * `spark.read.parquet` does; an empty table directory then fails as
    * that read does.
    *
    * The schema is stored with the warehouse, one JSON file per table at
    * `<root>/_schemas/<schema>/<table>.json`, so it holds for every
    * Catalog instance and every process over the root, a restarted one
    * included. `overwrite` replaces it; `append`, `appendBatched` and
    * `overwriteBatch` keep it when the written schema matches and drop it
    * when the schema differs, so a table of mixed file schemas infers
    * again. A write to a table without a stored schema stores one when
    * the table is new or its current (inferred) schema matches the
    * written one. Single-writer assumption, the same one the ledgers
    * make: every write to a catalog root goes through a Catalog, and one
    * table has one writer at a time (different tables may be written from
    * different threads). A write around the Catalog is not seen, and a
    * read after it would use the stored schema.
    *
    * `load_id` reads as BIGINT on both paths, the type every pipeline
    * table writes it with: partition-value inference reads small ids as
    * INT, so an inferred `load_id` of type INT is cast back.
    */
  def read(schema: String, table: String): DataFrame = {
    val p = path(schema, table)
    stored(schema, table) match {
      case Some(s) => spark.read.schema(s).parquet(p)
      case None => Catalog.loadIdAsLong(spark.read.parquet(p))
    }
  }

  /** Append a DataFrame's rows. */
  def append(df: DataFrame, schema: String, table: String): Unit =
    recorded(df.schema, schema, table, partitioned = false, replaces = false)(
      df.write.mode(SaveMode.Append).parquet(_))

  /** Append partitioned by load_id so per-batch rewrite prunes to one
    * partition and batch-scoped reads (`WHERE load_id = ?`) prune files.
    */
  def appendBatched(df: DataFrame, schema: String, table: String): Unit =
    recorded(df.schema, schema, table, partitioned = true, replaces = false)(
      df.write.mode(SaveMode.Append).partitionBy("load_id").parquet(_))

  /** Idempotent batch rewrite: dynamic overwrite of just the partitions
    * present in `df` (the reference's delete+insert, S11), whatever the
    * session's `spark.sql.sources.partitionOverwriteMode`.
    */
  def overwriteBatch(df: DataFrame, schema: String, table: String): Unit =
    recorded(df.schema, schema, table, partitioned = true, replaces = false)(
      df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("load_id").parquet(_))

  /** Full rebuild (CTAS, S12/S13). */
  def overwrite(df: DataFrame, schema: String, table: String): Unit =
    recorded(df.schema, schema, table, partitioned = false, replaces = true)(
      df.write.mode(SaveMode.Overwrite).parquet(_))

  /** Appends a few rows (a ledger transition) to an unpartitioned table as
    * one parquet file, written on the driver without a Spark job. The file
    * comes from Spark's own parquet writer factory with the session's
    * settings, so it is the file a Spark append of `rows.toDF()` writes,
    * and [[read]] and the stored schema treat it the same. It is written
    * under a hidden `.`-prefixed name, which every read skips, and renamed
    * into place once: a reader in any process sees all of it or none of it.
    * Safe to call from several threads; one table still has one writer at
    * a time (see [[read]]).
    */
  def appendRows[T <: Product : TypeTag : ClassTag](rows: Seq[T],
      schema: String, table: String): Unit = {
    val enc = Catalog.encoder[T]
    recorded(enc.schema, schema, table, partitioned = false,
      replaces = false) { p =>
      val sqlConf = spark.sessionState.conf
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = ParquetUtils.prepareWrite(sqlConf, job, enc.schema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
      val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
      val (tmp, dst) = (new HPath(p, s".$name"), new HPath(p, name))
      val hfs = fs(p)
      val written = try {
        val writer = factory.newInstance(tmp.toString, enc.schema, ctx)
        val (toRow, fromRow) = (enc.createSerializer(), enc.createDeserializer())
        // hold each row as a read of the file returns it (timestamps in
        // microseconds, say), not as it was passed
        val held =
          try rows.map { r => val row = toRow(r); writer.write(row); fromRow(row) }
          finally writer.close()
        if (!hfs.rename(tmp, dst)) throw new IOException(s"could not rename $tmp")
        held
      } catch { case e: Throwable => hfs.delete(tmp, false); throw e }
      ledgers.compute(ledgerKey[T](schema, table), (_, known) =>
        Option(known).getOrElse(Map.empty) +
          (name -> (hfs.getFileStatus(dst).getLen -> written)))
      ()
    }
  }

  /** Rows of every data file this Catalog wrote with [[appendRows]] or
    * read with [[snapshot]], per table and row class, keyed by file name
    * with the file's length.
    */
  private val ledgers =
    new ConcurrentHashMap[(String, String, Class[_]), Map[String, (Long, Seq[Any])]]()

  private def ledgerKey[T : ClassTag](schema: String,
      table: String): (String, String, Class[_]) =
    (schema, table, classTag[T].runtimeClass)

  /** Every row of an unpartitioned table (a ledger), as of one listing of
    * its directory. Rows of files this Catalog already holds (same name,
    * same length) come from memory; the files new to it (written by
    * another Catalog or process, or by a compaction) are decoded on the
    * driver file by file ([[DriverScan.files]]), as the table's stored
    * schema (else the row class's), with columns matched to the row class
    * by name; files gone from the listing drop out. So a snapshot runs no
    * Spark job: one with nothing new costs one listing, and a long-lived
    * Catalog decodes each file once. Cross-process contract: it sees every
    * file renamed into place before its listing, as [[read]] does; a
    * missing table is empty.
    */
  def snapshot[T <: Product : TypeTag : ClassTag](schema: String,
      table: String): Seq[T] = {
    val listed = dataFiles(new HPath(path(schema, table)))
    val key = ledgerKey[T](schema, table)
    val known = Option(ledgers.get(key)).getOrElse(Map.empty)
    def held(s: FileStatus) =
      known.get(s.getPath.getName).filter(_._1 == s.getLen)
    val unseen = listed.filter(held(_).isEmpty)
    val read = if (unseen.isEmpty) Map.empty[String, Seq[T]] else {
      val enc = Catalog.encoder[T]
      val rowSchema = Catalog.asRead(enc.schema, partitioned = false)
      val fileSchema = stored(schema, table).getOrElse(rowSchema)
      val fromRow = enc.createDeserializer()
      val rows = DriverScan.files(spark, unseen, fileSchema, rowSchema)
      unseen.map(_.getPath.getName).zip(rows.map(_.map(fromRow))).toMap
    }
    val now = listed.map { s =>
      val name = s.getPath.getName
      name -> held(s).getOrElse(s.getLen -> read.getOrElse(name, Seq.empty))
    }.toMap
    ledgers.put(key, now)
    now.values.toSeq.flatMap(_._2).asInstanceOf[Seq[T]]
  }

  /** Durability read-back of one batch write: the rows under exactly the
    * table's `load_id=<loadId>` directory, summed from the row counts in
    * its data files' parquet footers on the driver, so no Spark job runs
    * and no column page is read. Listing the table root instead would pay
    * an O(#loads) listing per load, a metadata storm at production
    * cadence. A zero-row load writes no partition directory at all, which
    * counts as 0, not an error.
    */
  def countBatch(schema: String, table: String, loadId: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(new HPath(s"${path(schema, table)}/load_id=$loadId")).map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The data files directly under `dir`, none when it does not exist. By
    * the rule Spark's file listing applies, names starting with `_`
    * (`_SUCCESS`) or `.` (checksums, temp files) are not data.
    */
  private def dataFiles(dir: HPath): Seq[FileStatus] =
    try fs(dir.toString).listStatus(dir).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    } catch { case _: FileNotFoundException => Seq.empty }

  /** The load ids of a `load_id`-partitioned table, from its
    * `load_id=<loadId>` directory names: one listing on the driver, no
    * Spark job. A zero-row load writes no partition directory, so its id
    * is not listed, just as a read of the rows would not return it.
    */
  def loadIds(schema: String, table: String): Seq[Long] = {
    val p = new HPath(path(schema, table))
    fs(p.toString).listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("load_id=")).map(_.stripPrefix("load_id=").toLong)
  }

  /** Where the read schema of `schema.table` is stored: beside the
    * schema directories, not in the table's, so the table's own listing
    * (and anything counting its files) is unchanged.
    */
  private def schemaFile(schema: String, table: String): HPath =
    new HPath(s"$root/_schemas/$schema/$table.json")

  /** The stored read schema of a table, if any: one small file read on
    * the driver.
    */
  private def stored(schema: String, table: String): Option[StructType] = {
    val f = schemaFile(schema, table)
    try {
      val in = fs(f.toString).open(f)
      try Some(DataType.fromJson(new String(in.readAllBytes(), UTF_8))
        .asInstanceOf[StructType])
      finally in.close()
    } catch { case _: FileNotFoundException => None }
  }

  /** Runs `write` of rows of schema `dfSchema` on the table's path and
    * stores the schema a read of the table returns after it (see
    * [[read]]). A stored schema equal to that one stays in place. Any
    * other is deleted while the write runs, so a concurrent read infers
    * rather than pairing the old schema with new files, and stays deleted
    * if the write fails. The new one is written to a temporary file and
    * renamed into place, so a reader sees all of it or none.
    */
  private def recorded(dfSchema: StructType, schema: String, table: String,
      partitioned: Boolean, replaces: Boolean)(write: String => Unit): Unit = {
    val p = path(schema, table)
    val written = Catalog.asRead(dfSchema, partitioned)
    val known = stored(schema, table)
    val unchanged = known.contains(written)
    val keep = replaces || (known match {
      case Some(k) => k == written
      case None =>
        !fs(p).exists(new HPath(p)) ||
          (try Catalog.asRead(read(schema, table).schema, partitioned) == written
          catch { case _: AnalysisException => false }) // no file to infer from
    })
    val f = schemaFile(schema, table)
    val hfs = fs(f.toString)
    if (!unchanged) hfs.delete(f, false)
    write(p)
    if (keep && !unchanged) {
      val tmp = new HPath(f.getParent, s".${f.getName}.${UUID.randomUUID()}")
      val out = hfs.create(tmp, true)
      try out.write(written.json.getBytes(UTF_8)) finally out.close()
      // a failed rename means another writer's file is in place: leave
      // the table to inference
      if (!hfs.rename(tmp, f)) { hfs.delete(tmp, false); hfs.delete(f, false) }
    }
  }

  /** Bucketed managed table (Hive-layout parquet in the session warehouse):
    * co-locates both sides of a recurring join on the bucket key so the
    * join plans WITHOUT an Exchange — at 100 TB this converts every
    * fact-fact join on the key into a local zip of bucket files. Requires
    * saveAsTable (bucket metadata lives in the session catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"$root/bucketed/$table")
      .saveAsTable(table)

  def readTable(table: String): DataFrame = spark.table(table)

  /** Small-file compaction: rewrite a table into ~`targetBytes` files.
    * Append-per-batch ingestion (this catalog's write pattern) accumulates
    * one file set per load; at 100 TB the resulting small-file population
    * dominates scan planning and NameNode/listing pressure, so periodic
    * compaction is part of the operating model. Partitioned tables keep
    * their `load_id` layout (coalesce happens within partitions via the
    * dynamic overwrite); plain tables rewrite to `ceil(bytes/target)`
    * files. Returns the resulting file count.
    */
  def compact(schema: String, table: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val p = path(schema, table)
    val df = read(schema, table)
    val hfs = fs(p)
    val loads = loadIds(schema, table)
    val partitioned = df.columns.contains("load_id") && loads.nonEmpty
    val bytes = {
      val it = hfs.listFiles(new HPath(p), true)
      var b = 0L
      while (it.hasNext) b += it.next().getLen
      b
    }
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // eager localCheckpoint ONCE up front: it fully materializes the input
    // before the path is overwritten AND means the (possibly expensive)
    // source plan is evaluated a single time. Unlike cache(), a lost block
    // fails loudly instead of recomputing from the path being overwritten
    // (production-scale analog: write to a staging path and atomically
    // rename).
    val src = df.localCheckpoint()
    if (partitioned) {
      // repartition must follow the table's partitionBy(load_id) layout: a
      // round-robin repartition(nFiles) would give every write task rows of
      // ~every load_id, emitting up to nFiles × #partitions files. Hashing
      // on (load_id, salt) keeps each output file inside one partition
      // directory, with `salt` splitting any single load that exceeds the
      // per-file byte budget.
      import org.apache.spark.sql.functions._
      val perLoadFiles =
        math.max(1, math.ceil(bytes.toDouble / loads.size / targetBytes).toInt)
      // salt only over hashable column types: xxhash64 rejects map-typed
      // input, so a map column anywhere in the schema would otherwise break
      // compaction for the whole table
      import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType      => true
        case a: ArrayType    => hasMap(a.elementType)
        case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
        case _               => false
      }
      val saltCols = src.schema.fields.toIndexedSeq
        .filterNot(f => hasMap(f.dataType)).map(f => col(f.name))
      val salt =
        if (saltCols.isEmpty) lit(0L)
        else pmod(xxhash64(saltCols: _*), lit(perLoadFiles))
      val staged = src.repartition(nFiles, col("load_id"), salt)
      overwriteBatch(staged, schema, table)
    } else {
      overwrite(src.repartition(nFiles), schema, table)
    }
    val it = hfs.listFiles(new HPath(p), true)
    var n = 0L
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Schema reset utility (S14): drop a whole schema directory. */
  def dropSchema(schema: String): Unit = {
    val p = new HPath(s"$root/$schema")
    val hfs = fs(p.toString)
    hfs.delete(p, true)
    hfs.delete(new HPath(s"$root/_schemas/$schema"), true)
    ledgers.keySet.removeIf(_._1 == schema)
    ()
  }
}

object Catalog {

  private val encoders = new ConcurrentHashMap[Class[_], ExpressionEncoder[_]]()

  /** One bound encoder per row class: deriving one reflects over the
    * class.
    */
  private def encoder[T <: Product : TypeTag : ClassTag]: ExpressionEncoder[T] =
    encoders.computeIfAbsent(classTag[T].runtimeClass,
      _ => ExpressionEncoder[T]().resolveAndBind())
      .asInstanceOf[ExpressionEncoder[T]]

  /** The schema Spark reads back for a write of `written`: parquet reads
    * every column as nullable, and a partitioned write's `load_id` comes
    * back as the last column.
    */
  private def asRead(written: StructType, partitioned: Boolean): StructType = {
    val (part, data) =
      written.fields.partition(f => partitioned && f.name == "load_id")
    StructType((data ++ part).map(_.copy(nullable = true)))
  }

  /** Casts an inferred INT `load_id` back to the BIGINT it was written as. */
  private def loadIdAsLong(df: DataFrame): DataFrame =
    if (df.schema.exists(f => f.name == "load_id" && f.dataType == IntegerType))
      df.withColumn("load_id", col("load_id").cast(LongType))
    else df
}
