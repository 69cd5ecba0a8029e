package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Config-driven Bronze ingestion (reference S1-S7,
  * `/root/reference/scripts/ingestion_logic.py`):
  * glob listing, tolerant schema'd CSV / whole-document JSON reads, audit
  * columns, a load ledger with RUNNING→SUCCESS/FAILURE transitions, and
  * idempotent skip of already-SUCCESS files.
  *
  * Differences from the reference are deliberate Spark-first choices:
  * schemas come from [[Schemas.bronze]] instead of DESC TABLE introspection,
  * and per-file loads append into `load_id`-partitioned parquet instead of
  * COPY INTO. Control flow (listing, ledger) is driver-side over tiny data;
  * all row movement is executor-side.
  */
final class Ingestion(catalog: Catalog) {
  import catalog.spark
  import spark.implicits._

  private val ADMIN = "admin"

  /** S3: glob files matching the config pattern (reference LIST+regex,
    * ingestion_logic.py:101-113). Hadoop glob works on any supported FS.
    */
  def listFiles(sourcePath: String, pattern: String): Seq[String] = {
    val glob = new org.apache.hadoop.fs.Path(s"$sourcePath/$pattern")
    val st = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(glob)
    if (st == null) Seq.empty
    else st.toSeq.filter(_.isFile).map(_.getPath.toString).sorted
  }

  private type Ledger = Seq[Schemas.IngestionLog]

  /** One snapshot of the load ledger ([[Catalog.snapshot]]): [[ingest]]
    * derives the orphan reconcile, the SUCCESS-only skip set and the next
    * load id from the same snapshot. The ledger is control-plane sized
    * (one row per file attempt).
    */
  private def ledger(): Ledger =
    catalog.snapshot[Schemas.IngestionLog](ADMIN, "ingestion_logs")

  /** S6: files already loaded with SUCCESS for this table are skipped. */
  private def succeeded(ledger: Ledger, targetTable: String): Set[String] =
    ledger.collect {
      case Schemas.IngestionLog(_, file, `targetTable`, "SUCCESS", _, _, _) => file
    }.toSet

  /** Appends ledger rows on the driver ([[Catalog.appendRows]]). */
  private def log(entries: Seq[Schemas.IngestionLog]): Unit =
    catalog.appendRows(entries, ADMIN, "ingestion_logs")

  /** Reconcile orphaned RUNNING claims before a new run: the batched
    * up-front claim (see [[ingest]]) means a driver crash mid-run leaves
    * a RUNNING row for every never-attempted file in the config — and
    * because the skip set only honors SUCCESS, those files retry
    * under FRESH load_ids, permanently stranding the crashed run's
    * claimed rows as RUNNING. A ledger consumer computing "in-flight
    * loads" would count ghosts forever. So each ingest starts by marking
    * every RUNNING load_id that never reached a terminal row (SUCCESS /
    * FAILURE / ABANDONED) as ABANDONED — append-only like every ledger
    * transition, one driver-side pass over control-plane-sized ids.
    * Single-driver assumption (the same one the id-range claim
    * documents): a concurrent ingest's live claims would be
    * indistinguishable from a crash's orphans.
    */
  def reconcileOrphans(): Seq[Long] = reconcile(ledger())

  private def reconcile(ledger: Ledger): Seq[Long] = {
    val terminal = ledger.collect {
      case Schemas.IngestionLog(id, _, _,
        "SUCCESS" | "FAILURE" | "ABANDONED", _, _, _) => id
    }.toSet
    val orphans = ledger.filter(l =>
      l.status == "RUNNING" && !terminal.contains(l.load_id))
    if (orphans.nonEmpty) {
      val t = new Timestamp(System.currentTimeMillis())
      log(orphans.map(_.copy(status = "ABANDONED", rows_loaded = 0L,
        error_message = "orphaned RUNNING claim from a crashed run",
        started_at = t)))
    }
    orphans.map(_.load_id).sorted
  }

  /** S4/S5: load one file into Bronze with audit columns; returns rows
    * loaded. CSV options mirror the reference's tolerant format
    * (file_format_csv.sql:1-7): header, quotes, NULL_IF('NULL','null',''),
    * PERMISSIVE on malformed rows.
    */
  def loadFile(detail: Schemas.FileDetail, file: String, loadId: Long): Long = {
    val raw = detail.format.toUpperCase match {
      case "CSV" =>
        val schema = Schemas.bronze.getOrElse(detail.target_table,
          throw new IllegalArgumentException(
            s"no bronze schema for ${detail.target_table}"))
        spark.read.schema(schema)
          .option("header", "true")
          .option("quote", "\"")
          .option("escape", "\"")
          .option("nullValue", "")
          .option("mode", "PERMISSIVE")
          .csv(file)
          // NULL_IF ('NULL','null',''): normalize string columns post-read
          .select(schema.fields.toIndexedSeq.map { f =>
            if (f.dataType == org.apache.spark.sql.types.StringType)
              when(upper(col(f.name)) === "NULL", lit(null)).otherwise(col(f.name))
                .as(f.name)
            else col(f.name)
          }: _*)
      case "JSON" =>
        // whole-document-per-file VARIANT landing (ingestion_logic.py:78-80,
        // reset_schemas.sql:127-133): the document lands as a REAL Spark 4
        // VariantType column (parse_json at load time), so Bronze stores
        // the encoded variant binary — path reads downstream
        // (TimelineFlatten's variant_get) skip re-parsing the 16 MB text
        // per consumer, and parquet's variant annotation keeps the column
        // self-describing for other engines.
        spark.read.option("wholetext", "true").text(file)
          .select(parse_json($"value").as("raw_data"))
      case other =>
        throw new IllegalArgumentException(s"unsupported format $other")
    }
    val withAudit = raw
      .withColumn("_ingestion_time", current_timestamp())
      .withColumn("_source_file", lit(file))
      .withColumn("load_id", lit(loadId))
    catalog.appendBatched(withAudit, detail.target_schema, detail.target_table)
    catalog.countBatch(detail.target_schema, detail.target_table, loadId)
  }

  /** Ingest every pending file for one config row; one load_id per file
    * (reference: per-file ledger row + COPY, ingestion_logic.py:124-201).
    * Returns (file, load_id, rows) for loaded files.
    */
  def ingest(detail: Schemas.FileDetail): Seq[(String, Long, Long)] = {
    val snapshot = ledger()
    // the ABANDONED rows reuse their orphans' ids, so the snapshot's skip
    // set and maximum id still hold after the reconcile
    reconcile(snapshot)
    val done = succeeded(snapshot, detail.target_table)
    val pending = listFiles(detail.source_path, detail.file_pattern)
      .filterNot(done.contains)
    // allocate the whole id range up front, from the snapshot: no ledger
    // max-scan per FILE, which would grow with ledger size and at
    // production load cadence be a pure metadata storm.
    val baseId = snapshot.map(_.load_id).maxOption.getOrElse(0L) + 1L
    val t0 = new Timestamp(System.currentTimeMillis())
    // claim the ENTIRE allocated range with one batched RUNNING append
    // BEFORE any file loads: a concurrent ingest taking its snapshot
    // mid-run sees every claimed id, so the collision window is this one
    // append — not "until the last file finishes loading" (which a lazy
    // per-file RUNNING write would leave open)
    if (pending.nonEmpty)
      log(pending.zipWithIndex.map { case (file, idx) =>
        Schemas.IngestionLog(baseId + idx, file, detail.target_table,
          "RUNNING", 0L, "", t0)
      })
    pending.zipWithIndex.map { case (file, idx) =>
      val loadId = baseId + idx
      // the batched claim stamps every RUNNING row with the CLAIM time;
      // the terminal row carries the file's own attempt start, so
      // per-file timing survives the up-front range claim
      val tf = new Timestamp(System.currentTimeMillis())
      try {
        val rows = loadFile(detail, file, loadId)
        log(Seq(Schemas.IngestionLog(loadId, file, detail.target_table,
          "SUCCESS", rows, "", tf)))
        (file, loadId, rows)
      } catch {
        case e: Exception =>
          log(Seq(Schemas.IngestionLog(loadId, file, detail.target_table,
            "FAILURE", 0L, String.valueOf(e.getMessage), tf)))
          (file, loadId, -1L)
      }
    }
  }

  /** S1: run the whole config (the dynamic-ingestion DAG,
    * dynamic_ingestion_dag.py:18-26).
    */
  def ingestAll(config: Seq[Schemas.FileDetail]): Map[String, Seq[(String, Long, Long)]] =
    config.map(d => d.target_table -> ingest(d)).toMap
}
