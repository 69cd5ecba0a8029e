package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming/batch parity: the same hourly rollup computed via
  * Structured Streaming (file micro-batches + watermark) and via the batch
  * plan must agree exactly; stateful per-user accumulation must match the
  * batch groupBy.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_stream").toString
    // land the sf0.001 events (micros ts) as the "arriving" files
    Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .write.mode("overwrite").parquet(d)
    d
  }

  test("streaming heavy-hitters: exact above the key domain, MG-bounded below", Slow) {
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = batch.values.sum

    // capacity > #event types: no eviction can fire -> summary is exact
    val wide = EventStream.runToBatch(spark,
      EventStream.heavyHitterStream(EventStream.readStream(spark, dir), 8),
      "hh_wide").head()
    assert(wide.getMap[String, Long](0).toMap == batch)
    assert(wide.getLong(1) == n)

    // capacity < #event types: eviction runs; the MG bound must still hold
    val tight = EventStream.runToBatch(spark,
      EventStream.heavyHitterStream(EventStream.readStream(spark, dir), 3),
      "hh_tight").head()
    val sk = tight.getMap[String, Long](0).toMap
    val maxErr = n / 4
    assert(sk.size <= 3)
    batch.foreach { case (k, t) =>
      val est = sk.getOrElse(k, 0L)
      assert(est <= t, s"$k overcounted: $est > $t")
      assert(t - est <= maxErr, s"$k undercounted: $t - $est > $maxErr")
      if (t > maxErr) assert(sk.contains(k), s"$k missing above bound")
    }
  }

  test("streaming grouped top-k equals the batch window top-k exactly") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.topKStream(EventStream.readStream(spark, dir), 7),
      "topk_out")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_type", unix_micros($"ts").as("us"), $"event_id")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
          .orderBy($"us".desc, $"event_id".asc)))
      .where($"rnk" <= 7)
      .select($"event_type", $"rnk", $"us", $"event_id")
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming rate scoring against batch-trained stats matches batch z") {
    // offline: train the q108 stats (exact integer moments over the
    // gap-filled series) from the same data the stream will see
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_type", date_trunc("hour", $"ts").as("hour_ts"))
    val counts = ev.groupBy($"event_type", $"hour_ts").agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min($"hour_ts").as("lo"), max($"hour_ts").as("hi"))
    val spine = ev.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type",
        explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("hour_ts"))
    val full = spine.join(counts, Seq("event_type", "hour_ts"), "left")
      .select($"event_type", $"hour_ts", coalesce($"c", lit(0L)).as("c"))
    val st = full.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"c").as("s1"), sum($"c" * $"c").as("s2"))
    val stats = st.select($"event_type",
      ($"s1".cast("double") / $"n".cast("double")).as("mean"),
      when($"n" > 1,
        sqrt((($"n" * $"s2" - $"s1" * $"s1").cast("double")) /
          (($"n" * ($"n" - 1)).cast("double"))))
        .otherwise(0.0).as("std")).localCheckpoint()

    // online: score the stream of the same events against those stats
    val streamed = EventStream.runToBatch(spark,
      EventStream.rateScoreStream(EventStream.readStream(spark, dir), stats),
      "rate_scores", org.apache.spark.sql.streaming.OutputMode.Update())

    // batch recomputation restricted to observed hours must match exactly
    val zb = round(when($"std" > 0.0,
      ($"c".cast("double") - $"mean") / $"std").otherwise(0.0), 9)
    val batch = counts.join(stats, Seq("event_type"))
      .select($"event_type", $"hour_ts", $"c".as("n_events"),
        zb.as("z"), (abs(zb) > 3.0).as("spike"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming hourly window agg matches batch plan") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.hourlyCounts(EventStream.readStream(spark, dir)),
      "hourly_out")
    val batch = spark.read.parquet(dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .select($"window.start".as("hour_ts"), $"event_type", $"n_events",
        $"total_value")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sessionize: closed sessions match the batch q26 plan") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.sessionize(EventStream.readStream(spark, dir)).toDF(),
      "sessions_out", org.apache.spark.sql.streaming.OutputMode.Append())
    // batch truth with identical gap semantics (the q26 shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val batch = spark.read.parquet(dir)
      .select($"user_id", $"ts", $"value")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum($"new_session").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_no")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"), max($"ts").as("session_end"),
        sum($"value").as("session_value"))
    assert(streamed.count() > 0, "no sessions were closed")
    // every closed streaming session must exist identically in batch truth
    val mismatched = streamed.as("s")
      .join(batch.as("b"),
        $"s.user_id" === $"b.user_id" &&
          $"s.session_start" === $"b.session_start", "left")
      .where($"b.user_id".isNull ||
        $"s.session_end" =!= $"b.session_end" ||
        $"s.n_events" =!= $"b.n_events" ||
        abs($"s.session_value" - $"b.session_value") > 1e-6)
    assert(mismatched.isEmpty, mismatched.take(5).mkString("\n"))
  }

  test("streaming dedup matches batch dropDuplicates") {
    // duplicate every event once so the dedup has real work
    val dupDir = Files.createTempDirectory("graft_dup").toString
    val base = spark.read.parquet(dir)
    base.union(base).write.mode("overwrite").parquet(dupDir)
    val streamed = EventStream.runToBatch(spark,
      EventStream.dedupStream(EventStream.readStream(spark, dupDir)),
      "dedup_out", org.apache.spark.sql.streaming.OutputMode.Append())
    assert(streamed.count() == base.count())
    assert(streamed.select("event_id").distinct().count() == base.count())
  }

  test("streaming debounce flags match the batch q158 lag window") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.debounceStream(EventStream.readStream(spark, dir)).toDF(),
      "deb_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type")
      .orderBy($"us".asc, $"event_id".asc)
    val batch = spark.read.parquet(dir)
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("us"))
      .withColumn("prev_us", lag($"us", 1).over(byKey))
      .withColumn("suppressed",
        $"prev_us".isNotNull && ($"us" - $"prev_us") <= 5000000L)
      .select($"event_id", $"suppressed")
    assert(streamed.count() == batch.count())
    val diff = streamed.select($"event_id", $"suppressed".as("s_sup"))
      .join(batch, "event_id")
      .where($"s_sup" =!= $"suppressed")
    assert(diff.isEmpty)
  }

  test("stateful per-user activity matches batch groupBy") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.userActivity(
        EventStream.readStream(spark, dir)).toDF(),
      "user_out", org.apache.spark.sql.streaming.OutputMode.Update())
    val batch = spark.read.parquet(dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
    // Update mode emits one row per user per micro-batch; take the last
    val last = streamed
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"), max($"total_value").as("total_value"))
    assert(last.count() == batch.count())
    val joined = last.as("s").join(batch.as("b"), "user_id")
      .where($"s.n_events" =!= $"b.n_events" ||
        abs($"s.total_value" - $"b.total_value") > 1e-9)
    assert(joined.isEmpty)
  }

  test("streaming curation signals match the batch q62 projection") {
    // the q62 curation signals are a stateless narrow projection, so the
    // same code runs unchanged as a streaming pipeline in Append mode —
    // documents arriving as files get scored/filtered with zero state
    // (the keeper-dedup stage is the streaming dropDuplicates op above)
    import graft.ext.TextAnalysis
    val ddir = Files.createTempDirectory("graft_docs_stream").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val qc = TextAnalysis.qualityColumns($"text").toMap
    val lc = TextAnalysis.langIdColumns($"text").toMap
    def project(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", qc("quality_score").as("quality_score"),
        lc("pred_lang").as("pred_lang"))
      .where($"quality_score" >= 0.5 && $"pred_lang" =!= "und")
    val streamed = EventStream.runToBatch(spark,
      project(spark.readStream.schema(schema).parquet(ddir)),
      "curation_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = project(spark.read.parquet(ddir))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming pii scrub matches the batch q82 redaction") {
    // redaction is a stateless narrow map, so the same redactPii column
    // expression runs unchanged over a document stream in Append mode —
    // the scrub happens as files land, zero state, zero reprocessing
    import graft.ext.TextAnalysis
    val ddir = Files.createTempDirectory("graft_pii_stream").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        concat($"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com or https://x.example.net/"), $"doc_id".cast("string"))
          .as("text"))
      .write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    def scrub(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", TextAnalysis.redactPii($"text").as("clean"))
    val streamed = EventStream.runToBatch(spark,
      scrub(spark.readStream.schema(schema).parquet(ddir)),
      "pii_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = scrub(spark.read.parquet(ddir))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // and the scrub actually fired: no raw emails/urls survive
    assert(batch.where($"clean".contains("@example.com") ||
      $"clean".contains("https://")).isEmpty)
    assert(batch.where(!$"clean".contains("<EMAIL>")).isEmpty)
  }

  test("ledgered streaming ingest is exactly-once under batch-id replay") {
    val ddir = Files.createTempDirectory("graft_ingest_stream").toString
    val wroot = Files.createTempDirectory("graft_ingest_wh").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(ddir)
    val n = spark.read.parquet(ddir).count()
    val schema = spark.read.parquet(ddir).schema
    val catalog = new graft.pipeline.Catalog(spark, wroot)
    def runOnce(): Unit = EventStream.ledgeredIngest(
      spark.readStream.schema(schema).parquet(ddir),
      catalog, "bronze", "docs_stream")
    // the stream's thread inherits the phase label it was started under
    val first = jobsByPhase { label => label("first"); runOnce() }
    assert(catalog.read("bronze", "docs_stream").count() == n)
    // a second run uses a fresh checkpoint, so its micro-batches REPLAY
    // the same batch ids over the same files — the ledger must make the
    // whole second pass a no-op (the exactly-once contract)
    val replay = jobsByPhase { label => label("replay"); runOnce() }
    assert(catalog.read("bronze", "docs_stream").count() == n,
      "replayed batch ids were ingested twice")
    // and the ledger recorded exactly the committed batch ids once
    val ids = catalog.read("bronze", "docs_stream__ledger")
      .select("batch_id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids.distinct, s"duplicate ledger rows: $ids")
    // the ledger check and append run on the driver: a committed batch
    // runs only its data append's one job, a replayed one none
    assert(first.getOrElse("first", 0) == ids.size, first.toString)
    assert(replay.isEmpty, replay.toString)
  }

  test("stream-static dimension join matches the batch join + rollup") {
    // classify each event via a static dimension on event_type, then run
    // the watermarked hourly rollup per category — the join itself is
    // stateless (dimension re-planned per micro-batch, broadcast side)
    val dim = spark.read.parquet(dir).select($"event_type").distinct()
      .withColumn("category",
        when(length($"event_type") % 2 === 0, lit("even")).otherwise(lit("odd")))
      .localCheckpoint()
    // decimal sum: addition order differs between micro-batched and batch
    // execution, so a double sum over the (large) per-category groups
    // could diverge by ulps — the decimal cast makes the sum associative
    def rollup(enriched: org.apache.spark.sql.DataFrame) = enriched
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"category")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(28,10)")).as("total_value"))
      .select($"window.start".as("hour_ts"), $"category", $"n_events",
        $"total_value")
    val streamed = EventStream.runToBatch(spark,
      rollup(EventStream.enrichWithDim(
        EventStream.readStream(spark, dir), dim, "event_type")),
      "dimjoin_out")
    val batch = rollup(spark.read.parquet(dir).join(dim, Seq("event_type")))
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream interval self-join matches the batch interval join") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.followedBy(EventStream.readStream(spark, dir)),
      "followedby_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = EventStream.followedBy(spark.read.parquet(dir))
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream LEFT OUTER interval join: parity on the closable region") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.followedByOuter(EventStream.readStream(spark, dir)),
      "followedby_outer_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = EventStream.followedByOuter(spark.read.parquet(dir))
    // rows whose join window closed under the final watermark: the
    // contract region where a terminating stream must equal batch
    val maxTs = spark.read.parquet(dir).agg(max($"ts")).collect()(0)
      .getTimestamp(0)
    val horizon = new java.sql.Timestamp(
      maxTs.getTime - (2 * 60 + 5 + 1) * 60 * 1000L)
    val sC = streamed.where($"l_ts" <= horizon)
    val bC = batch.where($"l_ts" <= horizon)
    assert(sC.count() > 0 && sC.count() == bC.count())
    assert(sC.exceptAll(bC).isEmpty && bC.exceptAll(sC).isEmpty)
    // the outer semantics actually exercise: drop-off rows exist and
    // carry null partners in BOTH engines' closable regions
    assert(sC.where(!$"followed").count() > 0)
    assert(sC.where(!$"followed" && $"r_id".isNotNull).count() == 0)
    // the stream never emits a row batch wouldn't (no phantom matches)
    assert(streamed.exceptAll(batch).isEmpty)
  }

  test("streaming curation with watermarked keeper dedup matches batch q62") {
    // the originals land as micro-batch 1; byte-identical duplicate docs
    // (new ids, same text → same fingerprint) arrive an hour later as
    // micro-batch 2. The watermarked fp-dedup must drop every late
    // duplicate, leaving EXACTLY the batch q62 output. Determinism does
    // NOT rest on row order: wave 1 is fp-unique (fixture property checked
    // below), so "which row is kept per key" never arises within a batch —
    // wave 1 keeps everything, wave 2 is all dropped by state.
    val ddir = Files.createTempDirectory("graft_cur_dedup").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nFp = base.select(
      md5(regexp_replace(lower(trim($"text")), "\\s+", " "))).distinct().count()
    assert(nFp == base.count(), "wave-1 corpus must be fingerprint-unique")
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    base.withColumn("ingest_ts", t0)
      .coalesce(1).write.mode("append").parquet(ddir)
    val firstWave = Files.list(java.nio.file.Paths.get(ddir)).toArray.toSet
    base.withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("ingest_ts", t0 + expr("INTERVAL 1 HOUR"))
      .coalesce(1).write.mode("append").parquet(ddir)
    // deterministic micro-batch order: the file source orders by modTime,
    // so pin the duplicate wave's files strictly later
    Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .foreach { p =>
        val t = if (firstWave.contains(p)) 1000000000000L else 2000000000000L
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    val schema = spark.read.parquet(ddir).schema
    val streamed = EventStream.runToBatch(spark,
      EventStream.curationStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(ddir)),
      "cur_dedup_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = SparkEntry.queries("q62_curation")(spark, "/root/testdata/sf0.001")
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("native session_window streaming agg matches batch and the custom sessionize") {
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "2 hours")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(28,10)")).as("total"))
      .select($"session_window.start".as("w_start"),
        $"session_window.end".as("w_end"), $"user_id", $"n_events", $"total")
    val streamed = EventStream.runToBatch(spark,
      agg(EventStream.readStream(spark, dir)), "sesswin_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = agg(spark.read.parquet(dir))
    // Append mode only emits sessions the final watermark (max ts − 2 h)
    // has closed; sessions ending inside the lateness window stay open
    val wmHeld = {
      val maxTs = spark.read.parquet(dir)
        .agg(max(unix_micros($"ts"))).head.getLong(0)
      batch.where(unix_micros($"w_end") > maxTs - 2L * 3600L * 1000000L)
    }
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(streamed).exceptAll(wmHeld).isEmpty)
    assert(streamed.count() + wmHeld.count() >= batch.count())
    // same 30-minute gap rule as the stateful custom sessionize: every
    // CLOSED custom session appears in the native windows with the same
    // (user, first-event) start
    val custom = EventStream.sessionize(spark.read.parquet(dir)).toDF()
    assert(custom.count() > 0 && custom.count() <= batch.count())
    val cPairs = custom.select($"user_id", $"session_start".as("w_start"))
    val bPairs = batch.select($"user_id", $"w_start")
    assert(cPairs.exceptAll(bPairs).isEmpty)
  }

  test("streaming forward as-of: matched pairs equal the batch q172 window") {
    val streamed = EventStream.runToBatch(spark,
      EventStream.asofForwardStream(EventStream.readStream(spark, dir))
        .toDF(),
      "asof_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = SparkEntry
      .queries("q172_asof_forward")(spark, "/root/testdata/sf0.001")
    // matched rows must agree bit for bit
    val sm = streamed.where($"matched")
      .select($"event_id", $"user_id", $"err_us", $"next_click_us",
        $"latency_us")
    val bm = batch.where($"matched")
      .select($"event_id", $"user_id", $"err_us", $"next_click_us",
        $"latency_us")
    assert(sm.count() > 0 && sm.count() == bm.count())
    assert(sm.exceptAll(bm).isEmpty && bm.exceptAll(sm).isEmpty)
    // every emitted unmatched error is unmatched in batch too, and every
    // error whose horizon a later click provably passed HAS been emitted
    val su = streamed.where(!$"matched").select($"event_id")
    val bu = batch.where(!$"matched").select($"event_id")
    assert(su.exceptAll(bu).isEmpty)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"us".as("click_us"))
    val provable = batch.where(!$"matched")
      .join(clicks, Seq("user_id"))
      .where($"click_us" > $"err_us" + 300000000L)
      .select($"event_id").distinct()
    assert(provable.exceptAll(su).isEmpty)
  }

  test("foreachBatch rollup maintenance converges to the monolithic rollup") {
    import org.apache.spark.sql.types.DecimalType
    val statePath = Files.createTempDirectory("graft_mv").toString + "/state"
    // force multiple micro-batches so the merge path genuinely runs
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val fin = EventStream.rollupMaintain(spark, stream, statePath)
      .orderBy("event_type").collect()
    val mono = spark.read.parquet(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("total"),
        max($"value").as("vmax"), min($"value").as("vmin"))
      .withColumn("avg_v", $"total" / $"n".cast("double"))
      .orderBy("event_type").collect()
    assert(fin.length == mono.length && fin.length > 0)
    fin.zip(mono).foreach { case (f, m) =>
      assert(f.getAs[String]("event_type") == m.getAs[String]("event_type"))
      assert(f.getAs[Long]("n") == m.getAs[Long]("n"))
      assert(f.getAs[Double]("total") == m.getAs[Double]("total"))
      assert(f.getAs[Double]("vmax") == m.getAs[Double]("vmax"))
      assert(f.getAs[Double]("vmin") == m.getAs[Double]("vmin"))
      assert(f.getAs[Double]("avg_v") == m.getAs[Double]("avg_v"))
    }
  }

  test("streaming incremental CC equals batch CC under interleaved waves + replay", Slow) {
    import graft.ext.Dedup
    // one 100-node chain (0-1-2-...-99) + stars (700+7j roots) whose
    // edges interleave across waves by (a+b) % 3 — merges are forced to
    // happen ACROSS batches, exercising the root-rewrite path
    val chain = (0L until 99L).map(i => (i, i + 1))
    val stars = (0L until 70L).map(i => (700L + i, 700L + i - i % 7))
      .filter { case (a, b) => a != b }
    val all = chain ++ stars
    val edir = Files.createTempDirectory("graft_cc_stream").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      all.filter { case (a, b) => (a + b) % 3 == w }
        .toDF("a", "b").coalesce(1).write.mode("append").parquet(edir)
      val now = Files.list(java.nio.file.Paths.get(edir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val schema = spark.read.parquet(edir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(edir)
    val statePath =
      Files.createTempDirectory("graft_cc_state").toString + "/s"
    val fin = EventStream.ccMaintain(spark, stream, statePath)
    val batch = Dedup.connectedComponentsStar(all.toDF("a", "b"), "a", "b")
      .select($"id", $"cluster_id".as("root"))
    assert(fin.count() == batch.count() && fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // the chain must have fully merged to root 0 across the three waves
    assert(fin.where($"id" === 99L).head().getLong(1) == 0L)
    // full replay is a no-op (ledger)
    val fin2 = EventStream.ccMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
  }

  test("streaming mini-batch k-means: one batch = one Lloyd round; counts conserve", Slow) {
    import graft.ext.KMeans
    val src = "/root/testdata/sf0.001"
    // single-file source → ONE micro-batch → must reproduce one batch
    // Lloyd round bit-for-bit (same init rule, same fixed-point sums)
    val edir = Files.createTempDirectory("graft_km_stream").toString
    spark.read.parquet(s"$src/embeddings.parquet").coalesce(1)
      .write.mode("overwrite").parquet(edir)
    val schema = spark.read.parquet(edir).schema
    val st1 = Files.createTempDirectory("graft_km_state").toString + "/s"
    val fin = EventStream.kmeansMaintain(spark,
      spark.readStream.schema(schema).parquet(edir), st1, 8)
    val batch = KMeans.trainCodebook(Tables.embeddings(spark, src), 8, 1)
    assert(fin.count() == batch.count() && fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // full replay under the same state is a no-op (batch-id ledger)
    val fin3 = EventStream.kmeansMaintain(spark,
      spark.readStream.schema(schema).parquet(edir), st1, 8)
    assert(fin3.exceptAll(batch).isEmpty && batch.exceptAll(fin3).isEmpty)
    // multi-batch mini-batch run: 4 ordered waves (vec_id % 4, mtime
    // pinned); sequential assignment differs from batch Lloyd by design,
    // but counts must conserve exactly and centroids stay bounded by k
    val edir4 = Files.createTempDirectory("graft_km_stream4").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 4).foreach { w =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .where($"vec_id" % 4 === w).coalesce(1)
        .write.mode("append").parquet(edir4)
      val now = Files.list(java.nio.file.Paths.get(edir4)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val st2 = Files.createTempDirectory("graft_km_state4").toString + "/s"
    val fin2 = EventStream.kmeansMaintain(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(edir4), st2, 8)
    val nTotal = spark.read.parquet(edir4).count()
    assert(fin2.agg(sum($"n_vectors")).head().getLong(0) == nTotal)
    assert(fin2.count() <= 8 && fin2.count() > 0)
  }

  test("streaming incremental dedup matches the batch contract and survives replay", Slow) {
    import graft.ext.Dedup
    val ddir = Files.createTempDirectory("graft_dedup_stream").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // three "daily crawls": wave = doc_id % 3, each landed as ONE file
    // with pinned mtimes so the file source replays them in wave order
    // (the curation test's determinism pattern)
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      base.where($"doc_id" % 3 === w).coalesce(1)
        .write.mode("append").parquet(ddir)
      val now = Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val statePath =
      Files.createTempDirectory("graft_dedup_state").toString + "/state"
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val fin = EventStream.dedupMaintain(spark, stream, statePath)
    // batch twin: same substrate, symmetric candidates oriented by the
    // arrival order key (wave, doc_id) — a doc is a dup iff a verified
    // match precedes it in that order; best match = max jaccard, ties to
    // the smallest doc id (q88's tiebreak)
    val sh = Dedup.hashedShingleRows(base, "doc_id", "text")
    val bands = Dedup.bandRows(Dedup.minhashSignatures(sh, "doc_id"), "doc_id")
    val jac = Dedup.jaccardFor(Dedup.candidatePairs(bands, "doc_id"), sh,
      "doc_id").where($"jaccard" >= 0.5)
    val oriented = jac
      .unionByName(jac.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b"),
        $"jaccard"))
      .where(($"doc_b" % 3 < $"doc_a" % 3) ||
        (($"doc_b" % 3 === $"doc_a" % 3) && $"doc_b" < $"doc_a"))
    val best = oriented.groupBy($"doc_a")
      .agg(max_by(struct($"jaccard", $"doc_b"),
        struct($"jaccard", -$"doc_b")).as("bm"))
      .select($"doc_a", $"bm.doc_b".as("best_match"),
        $"bm.jaccard".as("best_jaccard"))
    val twin = base.select($"doc_id", ($"doc_id" % 3).as("batch_id"))
      .join(best, $"doc_id" === $"doc_a", "left")
      .select($"doc_id", $"batch_id", $"best_match".isNotNull.as("is_dup"),
        $"best_match", $"best_jaccard")
    assert(fin.count() == base.count())
    assert(fin.where($"is_dup").count() > 0, "fixture must contain near-dups")
    assert(fin.exceptAll(twin).isEmpty && twin.exceptAll(fin).isEmpty)
    // exactly-once under full replay: a fresh run re-reads every file
    // under the SAME batch ids; the ledger skips them all, so the
    // non-idempotent appends never double
    val fin2 = EventStream.dedupMaintain(spark, stream, statePath)
    assert(fin2.count() == base.count())
    assert(fin2.exceptAll(twin).isEmpty && twin.exceptAll(fin2).isEmpty)
  }

  test("dedupMaintain runs every state write in the caller's session, " +
      "not the stream's clone") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_dedup_session").toString
    val (ddir, st, cp) = (root + "/docs", root + "/state", root + "/cp")
    val sentinel = root + "/sentinel"
    // (output path, written in `spark` itself?) per write command
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.foreach(p => writes.add(p -> (qe.sparkSession eq spark)))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    def landWave(w: Int): Unit = (0 until 4)
      .map(i => (w * 10L + i, s"wave $w doc ${i % 2} of the quick brown " +
        "fox that jumps over the lazy dog"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(ddir)
    landWave(0)
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema).parquet(ddir)
    // registered before start(): the stream's cloned session inherits
    // the listener, so its writes are reported too
    spark.listenerManager.register(listener)
    try {
      EventStream.dedupMaintain(spark, stream, st, checkpoint = Some(cp))
      landWave(1)
      val fin =
        EventStream.dedupMaintain(spark, stream, st, checkpoint = Some(cp))
      assert(fin.count() == 8)
      // one listener queue delivers in order: once the sentinel write is
      // reported, every write before it has been
      Seq(1).toDF("x").write.parquet(sentinel)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!writes.asScala.exists(_._1.endsWith("/sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val state = writes.asScala.toSeq.filter(_._1.contains(st))
    for (t <- Seq("shingles", "bands", "verdicts"); b <- 0 to 1)
      assert(state.exists(_._1.endsWith(s"/$t/batch=$b")),
        s"no write of $t/batch=$b reported: ${state.map(_._1)}")
    val foreign = state.filterNot(_._2).map(_._1)
    assert(foreign.isEmpty, s"state writes outside the caller's session: " +
      foreign.mkString(", "))
  }

  test("streaming perceptual dedup (fpDedupMaintain) matches a brute-force " +
      "twin, survives replay, and serves identically after compaction") {
    // fingerprints via q308's closed form (md5 luma -> dHash bits), all
    // computed HERE in plain Scala so the twin is engine-independent
    def cell(grp: Long, cx: Int, cy: Int, r: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${grp}_${cx}_$cy".getBytes("UTF-8"))
      (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % 200 +
        (if (cy == 3) 13 * r else 0L)
    }
    def fpOf(id: Long): Long = {
      val g = Array.tabulate(16)(i => cell(id / 4, i % 4, i / 4, id % 4))
      val h = (for (cy <- 0 until 4; cx <- 0 until 3)
        yield if (g(cy * 4 + cx) > g(cy * 4 + cx + 1))
          1L << (cy * 3 + cx) else 0L).sum
      val v = (for (cy <- 0 until 3; cx <- 0 until 4)
        yield if (g(cy * 4 + cx) > g((cy + 1) * 4 + cx))
          1L << (12 + cy * 4 + cx) else 0L).sum
      h + v
    }
    val n = 240L
    val docs = (0L until n).map(id => (id, fpOf(id)))
    // three crawls: wave = doc_id % 3, one pinned file each (wave order)
    val ddir = Files.createTempDirectory("graft_fpdedup_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      docs.filter(_._1 % 3 == w).toDF("doc_id", "fp").coalesce(1)
        .write.mode("append").parquet(ddir)
      val now = Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val statePath =
      Files.createTempDirectory("graft_fpdedup_state").toString + "/state"
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val fin = EventStream.fpDedupMaintain(spark, stream, statePath)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // brute-force twin: candidate = shares a 16-bit band (a sharing pair
    // makes its bucket >= 2 by itself, so the keep filter drops nothing),
    // oriented by (wave, doc_id); verify popcount <= 4; best = min
    // distance, tie to the smallest doc_b
    def bands(fp: Long) = Set(0L -> (fp % 65536), 1L -> (fp >> 16))
    val expected = docs.map { case (id, fp) =>
      val cands = docs.filter { case (b, bfp) =>
        b != id &&
          ((b % 3 < id % 3) || (b % 3 == id % 3 && b < id)) &&
          bands(fp).intersect(bands(bfp)).nonEmpty &&
          java.lang.Long.bitCount(fp ^ bfp) <= 4
      }
      val best = cands
        .map { case (b, bfp) => (java.lang.Long.bitCount(fp ^ bfp), b) }
        .sortBy(identity).headOption
      id -> best
    }.toMap
    assert(fin.size == n)
    assert(expected.values.count(_.isDefined) > 0,
      "fixture must contain near-dups")
    docs.foreach { case (id, _) =>
      val r = fin(id)
      val e = expected(id)
      assert(r.getAs[Boolean]("is_dup") == e.isDefined, s"doc $id")
      e.foreach { case (ham, b) =>
        assert(r.getAs[Long]("best_match") == b &&
          r.getAs[Int]("best_hamming") == ham, s"doc $id: $r vs $e")
      }
    }
    // full replay: ledger skips every re-presented batch
    val fin2 = EventStream.fpDedupMaintain(spark, stream, statePath)
    assert(fin2.count() == n)
    // compaction: stores fold to batch=-1, serving output unchanged
    EventStream.compactState(spark, statePath + "/fps")
    EventStream.compactState(spark, statePath + "/verdicts")
    val fin3 = EventStream.fpDedupMaintain(spark, stream, statePath)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(fin3.size == n)
    docs.foreach { case (id, _) =>
      assert(fin3(id).getAs[Boolean]("is_dup") ==
        fin(id).getAs[Boolean]("is_dup"), s"doc $id post-compaction")
    }
  }

  test("fpDedupMaintain enforces the fp width contract: a wide fp fails " +
      "the batch loudly at the default, and bands correctly once widened") {
    // gradientHash can emit up to 62 bits; at the default fpBits=32 a
    // 41-bit fp used to silently land its high bits in one oversized
    // band (weakening recall unobserved) — now the in-plan assert fails
    // the batch with the remedy in the message
    val ddir =
      Files.createTempDirectory("graft_fpwide_docs").toString + "/docs"
    Seq((1L, (1L << 40) | 5L), (2L, (1L << 40) | 6L)).toDF("doc_id", "fp")
      .coalesce(1).write.parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema).parquet(ddir)
    val s1 = Files.createTempDirectory("graft_fpwide_s1").toString + "/state"
    val ex = intercept[Throwable] {
      EventStream.fpDedupMaintain(spark, stream, s1)
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    assert(msgs.contains("fpBits"), msgs.take(500))
    // widened: the two fps share the high 31-bit band (identical >>31),
    // differ by 2 bits -> same-batch orientation matches doc 2 to doc 1
    val s2 = Files.createTempDirectory("graft_fpwide_s2").toString + "/state"
    val fin = EventStream.fpDedupMaintain(spark, stream, s2, fpBits = 62)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!fin(1L).getAs[Boolean]("is_dup"))
    assert(fin(2L).getAs[Boolean]("is_dup") &&
      fin(2L).getAs[Long]("best_match") == 1L &&
      fin(2L).getAs[Int]("best_hamming") == 2)
  }

  test("snapshotDiffMaintain: CDC classification, LWW by seq (a late " +
      "update cannot resurrect a delete), replay exactly-once, crash " +
      "clobber, and compaction-stable snapshot") {
    val ddir =
      Files.createTempDirectory("graft_snapdiff_t").toString + "/events"
    def wave(rows: Seq[(Long, String, Option[Long], Long)],
        w: Int): Unit = {
      rows.toDF("doc_id", "op", "fp", "seq").coalesce(1)
        .write.mode("append").parquet(ddir)
      // mtime-order the file source: stamp files not yet stamped
      // fresh files carry a now-ish mtime (≈1.78e12); already-stamped
      // ones sit at 1.70e12 — the threshold tells them apart
      new java.io.File(ddir).listFiles
        .filter(f => f.getName.endsWith(".parquet") &&
          f.lastModified > 1710000000000L)
        .foreach(_.setLastModified(1700000000000L + w * 60000L))
    }
    wave(Seq((1L, "U", Some(100L), 0L), (2L, "U", Some(200L), 0L),
      (3L, "U", Some(300L), 0L)), 0)
    wave(Seq((1L, "U", Some(110L), 2L), (2L, "D", None, 2L),
      (4L, "U", Some(400L), 2L), (5L, "D", None, 2L),
      (3L, "U", Some(300L), 2L)), 1)
    // seq 1 < the delete's seq 2: neither the update of 1 nor the
    // attempted resurrection of 2 may apply
    wave(Seq((1L, "U", Some(105L), 1L), (2L, "U", Some(205L), 1L)), 2)
    val statePath =
      Files.createTempDirectory("graft_snapdiff_s").toString + "/state"
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    def byBatch(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("batch_id") -> r).toMap
    val v1 = byBatch(EventStream.snapshotDiffMaintain(spark, stream,
      statePath))
    assert(v1.size == 3)
    assert(v1(0L).getAs[Long]("n_added") == 3)
    val b1 = v1(1L)
    assert(b1.getAs[Long]("n_added") == 1 &&
      b1.getAs[Long]("n_removed") == 1 &&
      b1.getAs[Long]("n_changed") == 1 &&
      b1.getAs[Long]("n_touched_same") == 1 &&
      b1.getAs[Long]("n_ghost_deletes") == 1)
    assert(v1(2L).getAs[Long]("n_stale") == 2 &&
      v1(2L).getAs[Long]("n_added") == 0 &&
      v1(2L).getAs[Long]("n_changed") == 0)
    def snapMap() = EventStream.snapshotCurrent(spark, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = snapMap()
    assert(s1 == Map(1L -> 110L, 3L -> 300L, 4L -> 400L), s1.toString)
    // crash simulation: a dead attempt of batch 1 landed garbage rows in
    // the log without a ledger row — wipe batch 1's ledger entry and
    // poison its partition; the replay must clobber it and the prior
    // reads must never see the poison
    val logP = statePath + "/fps"
    Seq((1L, "U", Some(999999L), 50L, 1L))
      .toDF("doc_id", "op", "fp", "seq", "src_batch")
      .write.mode("overwrite").parquet(s"$logP/batch=1")
    spark.read.parquet(statePath + "/ledger")
      .where(col("batch_id") =!= 1L).localCheckpoint()
      .coalesce(1).write.mode("overwrite")
      .parquet(statePath + "/ledger")
    val v2 = byBatch(EventStream.snapshotDiffMaintain(spark, stream,
      statePath))
    assert(v2.size == 3)
    assert(v2(1L).getAs[Long]("n_changed") == 1 &&
      v2(1L).getAs[Long]("n_added") == 1)
    assert(snapMap() == s1)
    // full replay with an intact ledger: every batch skips, nothing
    // doubles
    val v3 = byBatch(EventStream.snapshotDiffMaintain(spark, stream,
      statePath))
    assert(v3.size == 3 && snapMap() == s1)
    // compaction folds the log's batch partitions; the LWW fold rides the
    // src_batch/seq DATA columns, so the snapshot must not move
    EventStream.compactState(spark, logP)
    assert(snapMap() == s1)
    // TIME TRAVEL: every version reconstructs from the same (compacted)
    // log. As-of version 1 INCLUDES the events the live fold classified
    // stale — they were only stale relative to version 2; at version 1
    // they were the state
    def asOf(v: Long) = EventStream.snapshotAsOf(spark, statePath, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asOf(0L) == Map(1L -> 100L, 2L -> 200L, 3L -> 300L))
    assert(asOf(1L) == Map(1L -> 105L, 2L -> 205L, 3L -> 300L))
    assert(asOf(2L) == s1)
    // contract violation fails the batch loudly
    val bad =
      Files.createTempDirectory("graft_snapdiff_bad").toString + "/events"
    Seq((9L, "X", Some(1L), 0L)).toDF("doc_id", "op", "fp", "seq")
      .coalesce(1).write.parquet(bad)
    val s2 =
      Files.createTempDirectory("graft_snapdiff_s2").toString + "/state"
    val ex = intercept[Throwable] {
      EventStream.snapshotDiffMaintain(spark, spark.readStream
        .schema(spark.read.parquet(bad).schema).parquet(bad), s2)
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    assert(msgs.contains("snapshotDiffMaintain"), msgs.take(500))
  }

  test("scrubHistory: a tombstoned key vanishes from EVERY version, " +
      "survivor folds are byte-identical, emptied partitions are deleted, " +
      "the sweep is idempotent, and replay over the intact ledger cannot " +
      "resurrect it") {
    val ddir = Files.createTempDirectory("graft_scrub_t").toString + "/events"
    def wave(rows: Seq[(Long, String, Option[Long], Long)], w: Int): Unit = {
      rows.toDF("doc_id", "op", "fp", "seq").coalesce(1)
        .write.mode("append").parquet(ddir)
      new java.io.File(ddir).listFiles
        .filter(f => f.getName.endsWith(".parquet") &&
          f.lastModified > 1710000000000L)
        .foreach(_.setLastModified(1700000000000L + w * 60000L))
    }
    // key 2 has the RICH history scrub exists for: created, deleted,
    // resurrected — reconstructible at every version until the sweep
    wave(Seq((1L, "U", Some(100L), 0L), (2L, "U", Some(200L), 0L),
      (3L, "U", Some(300L), 0L)), 0)
    wave(Seq((2L, "D", None, 1L), (3L, "U", Some(310L), 1L),
      (4L, "U", Some(400L), 1L)), 1)
    wave(Seq((2L, "U", Some(290L), 2L)), 2) // batch 2: subject rows ONLY
    val statePath =
      Files.createTempDirectory("graft_scrub_s").toString + "/state"
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    EventStream.snapshotDiffMaintain(spark, stream, statePath)
    def asOf(v: Long) = EventStream.snapshotAsOf(spark, statePath, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asOf(0L) == Map(1L -> 100L, 2L -> 200L, 3L -> 300L))
    assert(asOf(2L) == Map(1L -> 100L, 2L -> 290L, 3L -> 310L, 4L -> 400L))
    val removed = EventStream.scrubHistory(spark, statePath,
      Seq(2L).toDF("doc_id"))
    assert(removed == 3L)
    // no version can resurrect the subject; survivors are untouched
    assert(asOf(0L) == Map(1L -> 100L, 3L -> 300L))
    assert(asOf(1L) == Map(1L -> 100L, 3L -> 310L, 4L -> 400L))
    assert(asOf(2L) == Map(1L -> 100L, 3L -> 310L, 4L -> 400L))
    // batch 2 held only subject rows — dynamic overwrite cannot empty a
    // partition, so the sweep must have deleted the directory outright
    assert(!new java.io.File(statePath + "/fps/batch=2").exists())
    // idempotent: nothing left to remove
    assert(EventStream.scrubHistory(spark, statePath,
      Seq(2L).toDF("doc_id")) == 0L)
    // the ledger survived the sweep: full replay skips every batch (no
    // verdict recompute, no log rewrite) and the subject stays gone
    EventStream.snapshotDiffMaintain(spark, stream, statePath)
    assert(asOf(2L) == Map(1L -> 100L, 3L -> 310L, 4L -> 400L))
  }

  test("compactSnapshotLog: versions at/above the horizon reconstruct " +
      "bit-identically from base+tail, below-horizon time travel fails " +
      "loudly, the horizon is monotone, and a late event older than a " +
      "FOLDED tombstone still classifies stale") {
    val ddir = Files.createTempDirectory("graft_hzn_t").toString + "/events"
    def wave(rows: Seq[(Long, String, Option[Long], Long)], w: Int): Unit = {
      rows.toDF("doc_id", "op", "fp", "seq").coalesce(1)
        .write.mode("append").parquet(ddir)
      new java.io.File(ddir).listFiles
        .filter(f => f.getName.endsWith(".parquet") &&
          f.lastModified > 1710000000000L)
        .foreach(_.setLastModified(1700000000000L + w * 60000L))
    }
    wave(Seq((1L, "U", Some(100L), 0L), (2L, "U", Some(200L), 0L),
      (3L, "U", Some(300L), 0L)), 0)
    wave(Seq((1L, "U", Some(110L), 2L), (2L, "D", None, 2L),
      (4L, "U", Some(400L), 2L)), 1)
    wave(Seq((3L, "U", Some(330L), 4L)), 2)
    val statePath =
      Files.createTempDirectory("graft_hzn_s").toString + "/state"
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    EventStream.snapshotDiffMaintain(spark, stream, statePath)
    def asOf(v: Long) = EventStream.snapshotAsOf(spark, statePath, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at2 = asOf(2L)
    val at4 = asOf(4L)
    assert(at2 == Map(1L -> 110L, 3L -> 300L, 4L -> 400L))
    EventStream.compactSnapshotLog(spark, statePath, 2L)
    assert(EventStream.snapshotHorizon(spark, statePath) == 2L)
    // every still-promised version is bit-identical after the fold
    assert(asOf(2L) == at2)
    assert(asOf(4L) == at4)
    assert(new java.io.File(statePath + "/fps/batch=-1").exists())
    // versions the horizon folded away refuse loudly
    val ex = intercept[IllegalArgumentException] { asOf(0L) }
    assert(ex.getMessage.contains("predates"), ex.getMessage)
    // the horizon is monotone: already-folded versions cannot come back
    intercept[IllegalArgumentException] {
      EventStream.compactSnapshotLog(spark, statePath, 1L)
    }
    // the folded base kept the tombstone's seq: a late update older than
    // the delete classifies stale against the COMPACTED log and cannot
    // resurrect the row
    wave(Seq((2L, "U", Some(205L), 1L)), 3)
    val v = EventStream.snapshotDiffMaintain(spark, stream, statePath)
      .collect().map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(v(3L).getAs[Long]("n_stale") == 1L, v(3L).toString)
    val cur = EventStream.snapshotCurrent(spark, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur == Map(1L -> 110L, 3L -> 330L, 4L -> 400L), cur.toString)
  }

  test("serving table: materialize folds the log once; merge advances " +
      "by one delta — strict-seq LWW (tie = stale), winning deletes " +
      "become tombstones readers never see, ghost deletes tombstone " +
      "too, new keys insert, and a later stale event older than a " +
      "merged delete CANNOT resurrect the key") {
    val statePath =
      Files.createTempDirectory("graft_serve_t").toString + "/state"
    Seq((1L, "U", Some(100L), 0L, 0L), (2L, "U", Some(200L), 0L, 0L),
      (3L, "U", Some(300L), 5L, 0L))
      .toDF("doc_id", "op", "fp", "seq", "src_batch")
      .write.parquet(s"$statePath/fps/batch=0")
    val t1 = EventStream.materializeServing(spark, statePath, "t1", 4)
    def m(tbl: String) = EventStream.readServing(spark, tbl)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp"))
      .toMap
    assert(m(t1) == Map(1L -> 100L, 2L -> 200L, 3L -> 300L))
    val delta = Seq(
      (1L, "U", Some(110L), 1L), // newer seq: wins
      (2L, "D", Option.empty[Long], 1L), // newer delete: row drops
      (3L, "U", Some(999L), 5L), // TIE on seq: stale, current keeps
      (4L, "U", Some(400L), 1L), // unknown key: insert
      (5L, "D", Option.empty[Long], 1L)) // unknown key delete: ghost
      .toDF("doc_id", "op", "fp", "seq")
    val t2 = EventStream.mergeServing(spark, t1, delta, "t2", 4,
      srcBatch = 9L)
    assert(m(t2) == Map(1L -> 110L, 3L -> 300L, 4L -> 400L), m(t2).toString)
    val rows = EventStream.readServing(spark, t2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("seq"), r.getAs[Long]("src_batch"))).toMap
    // delta winners carry (their seq, srcBatch); stale keeps its own
    assert(rows(1L) == (1L, 9L) && rows(4L) == (1L, 9L) &&
      rows(3L) == (5L, 0L), rows.toString)
    // the delete and the ghost delete both left tombstones with their seq
    val tombs = spark.table(t2).where($"op" === "D").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
    assert(tombs == Map(2L -> 1L, 5L -> 1L), tombs.toString)
    // the ADVICE r12 divergence: a second merge presenting events OLDER
    // than the merged deletes (seq 0 < tombstone seq 1) must classify
    // them stale against the tombstones — with deletes dropped instead
    // of tombstoned, both keys would see no current row and resurrect
    val late = Seq((2L, "U", Some(205L), 0L), (5L, "U", Some(505L), 0L))
      .toDF("doc_id", "op", "fp", "seq")
    val t3 = EventStream.mergeServing(spark, t2, late, "t3", 4,
      srcBatch = 10L)
    assert(m(t3) == Map(1L -> 110L, 3L -> 300L, 4L -> 400L), m(t3).toString)
    // ...and the tombstones persist into the next generation unchanged
    val tombs3 = spark.table(t3).where($"op" === "D").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
    assert(tombs3 == Map(2L -> 1L, 5L -> 1L), tombs3.toString)
  }

  test("serving-table tombstone retirement: a horizon retires only " +
      "tombstones at or below it, live rows are untouched, standalone " +
      "scrub commutes with a merge whose deltas respect the promise, " +
      "and the merge-amortized horizon produces the identical table") {
    val statePath =
      Files.createTempDirectory("graft_retire_t").toString + "/state"
    Seq((1L, "U", Some(100L), 0L, 0L), (2L, "U", Some(200L), 0L, 0L),
      (6L, "D", Option.empty[Long], 3L, 0L), // tombstone at seq 3
      (7L, "D", Option.empty[Long], 1L, 0L)) // tombstone at seq 1
      .toDF("doc_id", "op", "fp", "seq", "src_batch")
      .write.parquet(s"$statePath/fps/batch=0")
    val t1 = EventStream.materializeServing(spark, statePath, "r1", 4)
    def live(tbl: String) = EventStream.readServing(spark, tbl)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp"))
      .toMap
    def tombs(tbl: String) = spark.table(tbl).where($"op" === "D")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq"))
      .toMap
    assert(tombs(t1) == Map(6L -> 3L, 7L -> 1L))
    // horizon 2 retires ONLY the seq-1 tombstone; seq-3 survives so an
    // admissible stale seq-3 event for key 6 (tie with the tombstone =
    // stale) still classifies stale after the scrub
    val s2 = EventStream.scrubServingTombstones(spark, t1, 2L, "r2", 4)
    assert(tombs(s2) == Map(6L -> 3L), tombs(s2).toString)
    assert(live(s2) == live(t1), live(s2).toString)
    // the horizon is durable metadata on the scrubbed generation
    assert(EventStream.servingHorizon(spark, s2) == 2L)
    assert(EventStream.servingHorizon(spark, t1) == Long.MinValue)
    // ...and survives the CATALOG entry: a fresh registration over the
    // same path (new session, different engine) still sees it through
    // the in-path marker, so enforcement cannot evaporate with the
    // session-scoped catalog
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s2)).location
    spark.sql(s"CREATE TABLE ${s2}_reattach USING PARQUET LOCATION '$loc'")
    assert(EventStream.servingHorizon(spark, s"${s2}_reattach") == 2L)
    val stale6 = Seq((6L, "U", Some(666L), 3L))
      .toDF("doc_id", "op", "fp", "seq")
    val s2b = EventStream.mergeServing(spark, s2, stale6, "r2b", 4,
      srcBatch = 8L)
    assert(live(s2b) == live(t1), live(s2b).toString)
    // ...and it carried forward through the merge
    assert(EventStream.servingHorizon(spark, s2b) == 2L)
    // an event AT or BELOW the recorded horizon is the resurrection
    // hazard retirement's exactness excludes — the merge fails loudly
    // EVEN THOUGH the caller passed no horizon (the table remembers)
    val inadmissible = Seq((7L, "U", Some(777L), 2L))
      .toDF("doc_id", "op", "fp", "seq")
    val ex = intercept[Exception] {
      EventStream.mergeServing(spark, s2, inadmissible, "r2x", 4,
        srcBatch = 8L)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("inadmissible")), msgs.mkString(" | "))
    // the commute: every delta seq > horizon (the admissibility promise)
    val delta = Seq(
      (7L, "U", Some(707L), 4L), // re-insert of a RETIRED key
      (2L, "D", Option.empty[Long], 4L), // new delete -> fresh tombstone
      (9L, "U", Some(900L), 4L)) // plain insert
      .toDF("doc_id", "op", "fp", "seq")
    // path A must be scrub followed by a PLAIN merge — but mergeServing
    // deliberately inherits the scrubbed generation's recorded horizon,
    // which would re-apply the identical retirement filter and make the
    // two paths one path (r13 advice). Exercise the merge PLAN directly
    // with horizon = MinValue so A is genuinely scrub-then-plain-merge.
    val scrubbed3 = EventStream.scrubServingTombstones(spark, t1, 3L,
      "r3", 4)
    val a = EventStream.servingMergePlan(spark, scrubbed3, delta,
      srcBatch = 9L, tombstoneHorizon = Long.MinValue)
      .collect().map(_.toString).sorted.toSeq
    val pb = EventStream.mergeServing(spark, t1, delta, "r5", 4,
      srcBatch = 9L, tombstoneHorizon = 3L)
    val b = spark.table(pb).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"A=$a\nB=$b")
    assert(live(pb) == Map(1L -> 100L, 7L -> 707L, 9L -> 900L),
      live(pb).toString)
    // the fresh seq-4 tombstone is ABOVE the horizon: it must survive
    // the amortized retirement or key 2 could resurrect later
    assert(tombs(pb) == Map(2L -> 4L), tombs(pb).toString)
  }

  test("serving-scrub crash window: a crash between the data write and " +
      "the horizon marker leaves an UNENFORCED orphan generation that " +
      "was never adopted; the documented recovery (re-run) converges to " +
      "the same rows WITH enforcement intact") {
    val statePath =
      Files.createTempDirectory("graft_crash_t").toString + "/state"
    Seq((1L, "U", Some(100L), 0L, 0L),
      (6L, "D", Option.empty[Long], 3L, 0L),
      (7L, "D", Option.empty[Long], 1L, 0L))
      .toDF("doc_id", "op", "fp", "seq", "src_batch")
      .write.parquet(s"$statePath/fps/batch=0")
    val t1 = EventStream.materializeServing(spark, statePath, "cw1", 4)
    // CRASH INJECTION: replicate scrubServingTombstones' exact on-disk
    // state at the instant before recordServingHorizon — the retired
    // data landed (saveAsTable committed: path + catalog entry), the
    // marker/property did not. This is the only crash window the swap
    // has: saveAsTable itself is atomic-by-rename, and the marker write
    // after it is a single create.
    val orphan = "graft_snap_serve_cw_orphan"
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.table(t1)
      .where(!($"op" === "D" && $"seq" <= 2L))
      .write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/graft_bucketed/$orphan").saveAsTable(orphan)
    val orphanRows = spark.table(orphan).collect()
      .map(_.toString).sorted.toSeq
    // the hazard the contract excludes, demonstrated: the orphan retired
    // the seq-1 tombstone but records NO horizon, so a merge against it
    // would NOT reject a seq<=2 delta (resurrection). Never adopt it.
    assert(EventStream.servingHorizon(spark, orphan) == Long.MinValue)
    val resurrect = Seq((7L, "U", Some(777L), 1L))
      .toDF("doc_id", "op", "fp", "seq")
    val leaked = EventStream.mergeServing(spark, orphan, resurrect,
      "cw_leak", 4, srcBatch = 5L)
    assert(EventStream.readServing(spark, leaked)
      .where($"doc_id" === 7L).count() == 1L) // key 7 came back — QED
    // RECOVERY: re-run the scrub with the same arguments. The input
    // generation t1 was never touched, the overwrite is idempotent, and
    // the marker lands this time.
    val recovered = EventStream.scrubServingTombstones(spark, t1, 2L,
      "cw_orphan", 4)
    assert(recovered == orphan) // same generation name, now committed
    assert(spark.table(recovered).collect().map(_.toString).sorted.toSeq
      == orphanRows) // bit-identical rows: the re-run converged
    assert(EventStream.servingHorizon(spark, recovered) == 2L)
    // ...and enforcement is intact: the same resurrection delta now
    // fails loudly instead of resurrecting
    val ex = intercept[Exception] {
      EventStream.mergeServing(spark, recovered, resurrect, "cw_fail", 4,
        srcBatch = 6L)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("inadmissible")), msgs.mkString(" | "))
  }

  test("fpDedupMaintain treats a NULL fp as data, not a batch failure: " +
      "the row is dropped, valid rows still band and match") {
    // an undecodable blob lands a NULL fingerprint (the Multimodal
    // contract); the width assert used to see condition=NULL and kill the
    // whole batch with a misleading 'fp exceeds fpBits' message
    val ddir =
      Files.createTempDirectory("graft_fpnull_docs").toString + "/docs"
    Seq((1L, Option(5L)), (2L, Option(7L)), (3L, Option.empty[Long]))
      .toDF("doc_id", "fp").coalesce(1).write.parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val stream = spark.readStream.schema(schema).parquet(ddir)
    val statePath =
      Files.createTempDirectory("graft_fpnull_s").toString + "/state"
    val fin = EventStream.fpDedupMaintain(spark, stream, statePath)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the NULL-fp doc emits no verdict; the valid pair still matches
    assert(!fin.contains(3L))
    assert(!fin(1L).getAs[Boolean]("is_dup"))
    assert(fin(2L).getAs[Boolean]("is_dup") &&
      fin(2L).getAs[Long]("best_match") == 1L &&
      fin(2L).getAs[Int]("best_hamming") == 1)
  }

  test("variantMaintain: streamed JSON lands as stored variant exactly " +
      "once; typed path reads match the closed form, survive replay " +
      "and compaction") {
    val n = 60L
    def json(id: Long): String = {
      val tail = if (id % 2 == 0) "" else s",${3 * id}"
      s"""{"t":"e${id % 3}","u":{"uid":${2 * id},"k":$id},""" +
        s""""vals":[$id,${2 * id}$tail]}"""
    }
    val ddir = Files.createTempDirectory("graft_var_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      (0L until n).filter(_ % 3 == w).map(id => (id, json(id)))
        .toDF("doc_id", "json_text").coalesce(1)
        .write.mode("append").parquet(ddir)
      val now = Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val statePath =
      Files.createTempDirectory("graft_var_state").toString + "/state"
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    def pathsOf(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      expr("variant_get(raw_data, '$.t', 'string')").as("t"),
      expr("variant_get(raw_data, '$.u.uid', 'long')").as("uid"),
      expr("try_variant_get(raw_data, '$.vals[2]', 'long')").as("k3"))
    val got = pathsOf(EventStream.variantMaintain(spark, stream, statePath))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == n)
    (0L until n).foreach { id =>
      val r = got(id)
      assert(r.getAs[String]("t") == s"e${id % 3}", s"doc $id")
      assert(r.getAs[Long]("uid") == 2 * id, s"doc $id")
      if (id % 2 == 0) assert(r.isNullAt(r.fieldIndex("k3")), s"doc $id")
      else assert(r.getAs[Long]("k3") == 3 * id, s"doc $id")
    }
    // full replay: every batch is ledgered -> no duplicate landings
    assert(EventStream.variantMaintain(spark, stream, statePath)
      .count() == n)
    // compaction folds the store to batch=-1; typed serving unchanged
    EventStream.compactState(spark, statePath + "/variants")
    val got3 = pathsOf(EventStream.variantMaintain(spark, stream, statePath))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got3.size == n)
    (0L until n).foreach { id =>
      assert(got3(id).getAs[Long]("uid") == 2 * id, s"doc $id post-compact")
    }
  }

  test("streaming multimodal ingest end to end: payload stream -> " +
      "in-stream decodeMedia + fingerprint -> fpDedupMaintain") {
    import graft.ext.Multimodal
    // real PNG payloads, q308's closed form: groups of 4 near-identical
    def pngOf(id: Long): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val d = md.digest(s"${id / 4}_${x / 2}_${y / 2}".getBytes("UTF-8"))
        val g = (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % 200 +
          (if (y / 2 == 3) 13 * (id % 4).toInt else 0)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val n = 120L
    val ddir = Files.createTempDirectory("graft_mm_stream").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      (0L until n).filter(_ % 3 == w).map(id => (id, pngOf(id)))
        .toDF("doc_id", "payload").coalesce(1)
        .write.mode("append").parquet(ddir)
      val now = Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      (now -- known).foreach { p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + w * 1000000L))
      }
      known = now
    }
    val statePath =
      Files.createTempDirectory("graft_mm_state").toString + "/state"
    val schema = spark.read.parquet(ddir).schema
    // the decode + fingerprint run INSIDE the stream: decodeMedia is a
    // partition-wise Dataset transform, so the maintainer's input is
    // already the 8-byte fp — payloads never reach state
    def fpStream = Multimodal.decodeMedia(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(ddir),
        "doc_id", "payload")
      .where($"decodable")
      .select($"doc_id", Multimodal.dHash24($"features").as("fp"))
    val fin = EventStream.fpDedupMaintain(spark, fpStream, statePath)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(fin.size == n)
    // every group's later-arriving members must find a match: within a
    // group of 4 the low 16 bits agree (band collision guaranteed) and
    // distance <= 4, and group member order across waves is id order
    val dupCount = fin.values.count(_.getAs[Boolean]("is_dup"))
    assert(dupCount >= n / 4 * 2, // at least members 2..3 of full groups
      s"expected most group followers to be dups, got $dupCount")
    // doc 0 arrived first overall (wave 0, smallest id): never a dup
    assert(!fin(0L).getAs[Boolean]("is_dup"))
  }

  test("streaming hll registers equal batch and survive full replay") {
    import graft.ext.TextAnalysis
    val ddir = Files.createTempDirectory("graft_docs_hll").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath = Files.createTempDirectory("graft_hll").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val fin = EventStream.hllMaintain(spark, stream, statePath)
    val batch = TextAnalysis.hllRegisters(spark,
      spark.read.parquet(ddir)
        .select($"source", explode(TextAnalysis.tokens($"text")).as("token")),
      $"source", $"token")
    assert(fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // at-least-once tolerance: replaying the ENTIRE corpus into the same
    // state cannot move a register (MAX is idempotent — unlike the
    // sum-merged rollup above, which is why it needs the ledger and this
    // does not)
    val fin2 = EventStream.hllMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
  }

  test("streaming kmv sketches equal batch bottom-k and survive full replay") {
    import graft.ext.TextAnalysis
    val ddir = Files.createTempDirectory("graft_docs_kmv").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath = Files.createTempDirectory("graft_kmv").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val fin = EventStream.kmvMaintain(spark, stream, statePath)
    // batch twin: bottom-64 per source over the whole corpus at once —
    // the KMV merge law says incremental == monolithic exactly
    graft.functions.GraftFunctions.register(spark)
    val batch = spark.read.parquet(ddir)
      .select($"source", TextAnalysis.tokens($"text").as("_w"))
      .select($"source",
        explode(TextAnalysis.shinglesFromTokens($"_w")).as("shingle"))
      .select($"source", TextAnalysis.hash60Fast(spark, $"shingle").as("h"))
      .distinct()
      .groupBy($"source")
      .agg(call_function("top_k", -$"h", $"h", lit(64)).as("tk"))
      .select($"source", explode($"tk").as("e"))
      .select($"source", $"e.id".as("h"))
    assert(fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // MIN-idempotent merge: replaying the whole corpus cannot move it
    val fin2 = EventStream.kmvMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
  }

  test("streaming decayed counters equal batch q262 and survive replay") {
    val ddir = Files.createTempDirectory("graft_decay_ev").toString
    // multiple files = multiple micro-batches, so counts merge ACROSS
    // batches and the read-time aging runs over multi-batch state
    Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath = Files.createTempDirectory("graft_decay").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val fin = EventStream.decayedMaintain(spark, stream, statePath)
    // batch twin IS the gated query — same fixture rows, so outputs are
    // bit-identical (integer weights; no float enters either side)
    val batch = SparkEntry.queries("q262_decayed_counts")(
      spark, "/root/testdata/sf0.001")
    assert(fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // exactly-once: replaying the whole stream re-presents batch ids the
    // ledger already holds — sum-merged counts must not double
    val fin2 = EventStream.decayedMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
  }

  private def hfs(p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hpath(p: String) = new org.apache.hadoop.fs.Path(p)

  private def plantJunk(dir: String): Unit = {
    val fs = hfs(dir)
    fs.mkdirs(hpath(dir))
    val out = fs.create(hpath(dir + "/part-00000-junk.parquet"))
    out.write("this is not a parquet file".getBytes("UTF-8"))
    out.close()
  }

  private def pinNewFiles(dir: String, known: Set[java.nio.file.Path],
      w: Int): Set[java.nio.file.Path] = {
    val now = Files.list(java.nio.file.Paths.get(dir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).toSet
    (now -- known).foreach { p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(1000000000000L + w * 1000000L))
    }
    now
  }

  test("decayedMaintain crash in the rename window: orphan commit is " +
      "promoted, on replay and on a zero-batch restart") {
    val ddir = Files.createTempDirectory("graft_decay_crash").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath =
      Files.createTempDirectory("graft_decay_crash_st").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val batch = SparkEntry.queries("q262_decayed_counts")(
      spark, "/root/testdata/sf0.001")
    val fin = EventStream.decayedMaintain(spark, stream, statePath)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // crash simulation: the maintainer died between delete(commit) and
    // rename — the commit dir is GONE and a COMPLETE _tmp holds the state
    // (exactly the only dst-missing window swapCommit can leave)
    val fs = hfs(statePath)
    assert(fs.rename(hpath(statePath + "/commit"),
      hpath(statePath + "/commit_tmp")))
    assert(fs.exists(hpath(statePath + "/commit_tmp/ledger/_SUCCESS")),
      "fixture: a real commit must carry the ledger _SUCCESS marker")
    // restart WITH batches: the first foreachBatch's
    // recoverSwap(path, CommitMarker) must promote the orphan, after
    // which the ledger skips every replayed id
    val fin2 = EventStream.decayedMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
    assert(!fs.exists(hpath(statePath + "/commit_tmp")))
    // crash again, then restart with ZERO batches (empty source dir):
    // foreachBatch never fires, so only the post-termination recovery
    // stands between the orphan and an unreadable final state read
    assert(fs.rename(hpath(statePath + "/commit"),
      hpath(statePath + "/commit_tmp")))
    val empty = Files.createTempDirectory("graft_decay_empty").toString
    val fin3 = EventStream.decayedMaintain(spark,
      spark.readStream.schema(schema).parquet(empty), statePath)
    assert(fin3.exceptAll(batch).isEmpty && batch.exceptAll(fin3).isEmpty)
  }

  test("decayedMaintain deletes an incomplete FIRST-commit _tmp instead " +
      "of promoting it") {
    val ddir = Files.createTempDirectory("graft_decay_first").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath =
      Files.createTempDirectory("graft_decay_first_st").toString + "/state"
    // the footprint of a FIRST commit that died mid-cells-write: no commit
    // dir has ever existed, the _tmp holds half-written cells and no
    // ledger — promoting it would wedge every restart on unreadable
    // parquet; recoverSwap(path, CommitMarker) must see the missing
    // ledger/_SUCCESS and delete it so the batch replays against
    // genuinely-empty state
    plantJunk(statePath + "/commit_tmp/cells")
    val fin = EventStream.decayedMaintain(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(ddir), statePath)
    val batch = SparkEntry.queries("q262_decayed_counts")(
      spark, "/root/testdata/sf0.001")
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
  }

  test("decayedMaintain ignores a half-written _tmp beside a live commit " +
      "and clobbers it at the next real commit") {
    val ddir = Files.createTempDirectory("graft_decay_tmpjunk").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    // 4 pinned wave files now; the 5th slice arrives after the "crash"
    var known = Set.empty[java.nio.file.Path]
    (0 until 4).foreach { w =>
      ev.where($"event_id" % 5 === w).coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    val schema = spark.read.parquet(ddir).schema
    val statePath =
      Files.createTempDirectory("graft_decay_tmpjunk_st").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    EventStream.decayedMaintain(spark, stream, statePath)
    // a concurrent-looking attempt died mid-tmp-write NEXT TO the live
    // commit: recoverSwap(path, CommitMarker) must ignore it (dst exists)
    // and the next swapCommit must clobber it rather than trip over it
    plantJunk(statePath + "/commit_tmp/cells")
    ev.where($"event_id" % 5 === 4).coalesce(1)
      .write.mode("append").parquet(ddir)
    known = pinNewFiles(ddir, known, 4)
    val fin = EventStream.decayedMaintain(spark, stream, statePath)
    val batch = SparkEntry.queries("q262_decayed_counts")(
      spark, "/root/testdata/sf0.001")
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    assert(!hfs(statePath).exists(hpath(statePath + "/commit_tmp")),
      "the garbage _tmp must be clobbered by the next commit")
  }

  test("dedupMaintain replays a crashed batch OVER its stale partitions: " +
      "clobbered, not doubled, and excluded from its own index reads", Slow) {
    def waveDocs(): String = {
      val d = Files.createTempDirectory("graft_dedup_crash_docs").toString
      val base = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text")
      var known = Set.empty[java.nio.file.Path]
      (0 until 3).foreach { w =>
        base.where($"doc_id" % 3 === w).coalesce(1)
          .write.mode("append").parquet(d)
        known = pinNewFiles(d, known, w)
      }
      d
    }
    val ddir = waveDocs()
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    // clean twin run
    val stA = Files.createTempDirectory("graft_dedup_crash_a").toString + "/s"
    val clean = EventStream.dedupMaintain(spark, stream, stA)
      .localCheckpoint()
    // state B: the footprint of an attempt at batch 0 that crashed AFTER
    // landing its partitions but BEFORE the ledger row — worse, the
    // landed rows are WRONG (seeded from batch 1's data), so correctness
    // requires the replay to (a) exclude batch=0 from its index reads
    // (stale rows must not pollute candidate pairing) and (b) overwrite
    // the partitions rather than append beside them
    val stB = Files.createTempDirectory("graft_dedup_crash_b").toString + "/s"
    Seq("bands", "shingles", "verdicts").foreach { t =>
      spark.read.parquet(s"$stA/$t/batch=1")
        .write.mode("overwrite").parquet(s"$stB/$t/batch=0")
    }
    val fin = EventStream.dedupMaintain(spark, stream, stB)
    assert(fin.count() == clean.count() && fin.count() > 0)
    assert(fin.exceptAll(clean).isEmpty && clean.exceptAll(fin).isEmpty)
    // the stale partition itself must now hold batch 0's true rows
    Seq("bands", "shingles", "verdicts").foreach { t =>
      val a = spark.read.parquet(s"$stA/$t/batch=0")
      val b = spark.read.parquet(s"$stB/$t/batch=0")
      assert(b.count() == a.count() && a.exceptAll(b).isEmpty &&
        b.exceptAll(a).isEmpty, s"$t/batch=0 not clobbered to the true rows")
    }
  }

  test("hllMaintain recovers a swapWrite rename-window crash: state " +
      "promoted on replay, on zero-batch restart, junk first-tmp deleted") {
    import graft.ext.TextAnalysis
    val ddir = Files.createTempDirectory("graft_hll_crash").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(4).write.mode("overwrite").parquet(ddir)
    val schema = spark.read.parquet(ddir).schema
    val statePath =
      Files.createTempDirectory("graft_hll_crash_st").toString + "/state"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    // junk _tmp from a first write that died mid-parquet (no _SUCCESS):
    // must be deleted, not promoted — the run then starts genuinely empty
    plantJunk(statePath + "_tmp")
    val batch = TextAnalysis.hllRegisters(spark,
      spark.read.parquet(ddir)
        .select($"source", explode(TextAnalysis.tokens($"text")).as("token")),
      $"source", $"token")
    val fin = EventStream.hllMaintain(spark, stream, statePath)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // crash between delete(state) and rename: only the complete _tmp holds
    // the registers — without recovery a restart would re-accumulate from
    // EMPTY and (for MAX-merged state over the same corpus) happen to
    // converge, but a zero-batch restart would throw on the missing path
    val fs = hfs(statePath)
    assert(fs.rename(hpath(statePath), hpath(statePath + "_tmp")))
    val fin2 = EventStream.hllMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
    assert(fs.rename(hpath(statePath), hpath(statePath + "_tmp")))
    val empty = Files.createTempDirectory("graft_hll_empty").toString
    val fin3 = EventStream.hllMaintain(spark,
      spark.readStream.schema(schema).parquet(empty), statePath)
    assert(fin3.exceptAll(batch).isEmpty && batch.exceptAll(fin3).isEmpty)
  }

  test("ccMaintain recovers an orphaned root map even when the ledger " +
      "skips every replayed batch") {
    import graft.ext.Dedup
    val edges = (0L until 30L).map(i => (i, i + 1))
    val edir = Files.createTempDirectory("graft_cc_crash").toString
    edges.toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(edir)
    val schema = spark.read.parquet(edir).schema
    def stream = spark.readStream.schema(schema).parquet(edir)
    val statePath =
      Files.createTempDirectory("graft_cc_crash_st").toString + "/s"
    val fin = EventStream.ccMaintain(spark, stream, statePath)
    val batch = Dedup.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
      .select($"id", $"cluster_id".as("root"))
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // crash in the roots swap window: the replayed batch is SKIPPED by
    // the ledger, so nothing would rewrite the map — only the per-batch
    // recoverSwap stands between the orphan and a missing-path crash
    val fs = hfs(statePath)
    assert(fs.rename(hpath(statePath + "/roots"),
      hpath(statePath + "/roots_tmp")))
    val fin2 = EventStream.ccMaintain(spark, stream, statePath)
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
  }

  test("rollupMaintain is exactly-once under full replay (atomic ledger)") {
    import org.apache.spark.sql.types.DecimalType
    val statePath = Files.createTempDirectory("graft_mv_replay").toString +
      "/state"
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val cols = Seq("event_type", "n", "total", "vmax", "vmin", "avg_v")
      .map(col)
    val fin = EventStream.rollupMaintain(spark, stream, statePath)
      .select(cols: _*)
    val mono = spark.read.parquet(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("total"),
        max($"value").as("vmax"), min($"value").as("vmin"))
      .withColumn("avg_v", $"total" / $"n".cast("double"))
      .select(cols: _*)
    assert(fin.count() == mono.count() && fin.count() > 0)
    assert(fin.exceptAll(mono).isEmpty && mono.exceptAll(fin).isEmpty)
    // replaying the whole stream re-presents ledgered batch ids: the
    // sum-merged partials must not double (this maintainer previously
    // had NO replay guard — this is the regression test for the fix)
    val stream2 = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val fin2 = EventStream.rollupMaintain(spark, stream2, statePath)
      .select(cols: _*)
    assert(fin2.exceptAll(mono).isEmpty && mono.exceptAll(fin2).isEmpty)
  }

  test("cdcRollupMaintain: retract stream converges to the net rollup " +
      "and survives replay") {
    import org.apache.spark.sql.types.DecimalType
    // inserts in waves 0-1; wave 2 deletes every 5th insert and one type
    // ENTIRELY (t9 appears only in retracted rows → must drop from the
    // view); values exercise the signed decimal partials
    val ins = (0L until 600L).map(i =>
      (s"t${i % 10}", (i % 37).toDouble / 4.0, 1, i))
    val dels = ins.filter { case (_, _, _, i) => i % 5 == 0 && i % 10 != 9 }
      .map { case (t, v, _, i) => (t, v, -1, i) } ++
      ins.filter(_._4 % 10 == 9).map { case (t, v, _, i) => (t, v, -1, i) }
    val ddir = Files.createTempDirectory("graft_cdc_stream").toString
    var known = Set.empty[java.nio.file.Path]
    Seq(
      ins.filter(_._4 % 2 == 0),
      ins.filter(_._4 % 2 == 1),
      dels).zipWithIndex.foreach { case (wave, w) =>
      wave.map { case (t, v, op, _) => (t, v, op) }
        .toDF("event_type", "value", "op").coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val statePath =
      Files.createTempDirectory("graft_cdc_state").toString + "/state"
    val cols = Seq("event_type", "n", "total", "avg_v").map(col)
    val fin = EventStream.cdcRollupMaintain(spark, stream, statePath)
      .select(cols: _*)
    // batch twin: rollup over the NET rows (inserts minus deletes)
    val deleted = dels.map(_._4).toSet
    val net = ins.filter(r => !deleted.contains(r._4))
      .map { case (t, v, _, _) => (t, v) }.toDF("event_type", "value")
    val mono = net.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("total"))
      .withColumn("avg_v", $"total" / $"n".cast("double"))
      .select(cols: _*)
    assert(fin.count() == mono.count() && fin.count() > 0)
    assert(fin.exceptAll(mono).isEmpty && mono.exceptAll(fin).isEmpty)
    // the fully-retracted type is gone from the view
    assert(fin.where($"event_type" === "t9").isEmpty)
    // replaying every ledgered batch must not double the signed sums
    val fin2 = EventStream.cdcRollupMaintain(spark, stream, statePath)
      .select(cols: _*)
    assert(fin2.exceptAll(mono).isEmpty && mono.exceptAll(fin2).isEmpty)
  }

  test("compactState: stores collapse to batch=-1 with results unchanged, " +
      "the stream continues over the compacted index, and a compaction " +
      "crash in the rename window recovers", Slow) {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    def waveDir(waves: Int): String = {
      val d = Files.createTempDirectory(s"graft_cmp_docs$waves").toString
      var known = Set.empty[java.nio.file.Path]
      (0 until waves).foreach { w =>
        base.where($"doc_id" % 4 === w).coalesce(1)
          .write.mode("append").parquet(d)
        known = pinNewFiles(d, known, w)
      }
      d
    }
    def stream(d: String) = spark.readStream
      .schema(spark.read.parquet(d).schema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    // clean 4-wave reference
    val stA = Files.createTempDirectory("graft_cmp_a").toString + "/s"
    val clean = EventStream.dedupMaintain(spark, stream(waveDir(4)), stA)
      .localCheckpoint()
    // 3 waves, then compact all three stores
    val dirB = waveDir(3)
    val stB = Files.createTempDirectory("graft_cmp_b").toString + "/s"
    val pre = EventStream.dedupMaintain(spark, stream(dirB), stB)
      .localCheckpoint()
    Seq("bands", "shingles", "verdicts").foreach { t =>
      EventStream.compactState(spark, s"$stB/$t")
      val parts = Files.list(java.nio.file.Paths.get(s"$stB/$t")).toArray
        .map(_.toString).filter(_.contains("batch="))
      assert(parts.length == 1 && parts.head.endsWith("batch=-1"),
        s"$t: ${parts.mkString(",")}")
    }
    val post = spark.read.parquet(s"$stB/verdicts").drop("batch")
    assert(post.count() == pre.count() &&
      post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty)
    // crash a SECOND compaction in its delete->rename window: the live
    // bands store vanishes, only the complete _tmp remains
    val fs = hfs(stB)
    assert(fs.rename(hpath(s"$stB/bands"), hpath(s"$stB/bands_tmp")))
    // wave 3 arrives; the replayed batches 0-2 are ledger-skipped, batch 3
    // must recover the bands orphan and pair against the compacted index
    val knownB = Files.list(java.nio.file.Paths.get(dirB)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).toSet
    base.where($"doc_id" % 4 === 3).coalesce(1)
      .write.mode("append").parquet(dirB)
    pinNewFiles(dirB, knownB, 3)
    val fin = EventStream.dedupMaintain(spark, stream(dirB), stB)
    assert(fin.count() == clean.count() && fin.count() > 0)
    assert(fin.exceptAll(clean).isEmpty && clean.exceptAll(fin).isEmpty)
  }

  test("cdcRollupMaintain: out-of-order feed (delete before its insert) " +
      "still converges to the net rollup") {
    import org.apache.spark.sql.types.DecimalType
    // wave 0 carries the DELETES for inserts that only arrive in wave 1 —
    // the change-feed reordering a log-compacted upstream can produce.
    // Signed partials go transiently negative and must converge anyway.
    val ins = (0L until 200L).map(i => (s"t${i % 5}", (i % 11).toDouble, i))
    val outOfOrderDels = ins.filter(_._3 % 4 == 0)
    val ddir = Files.createTempDirectory("graft_cdc_ooo").toString
    var known = Set.empty[java.nio.file.Path]
    Seq(
      outOfOrderDels.map { case (t, v, _) => (t, v, -1) },
      ins.map { case (t, v, _) => (t, v, 1) }).zipWithIndex
      .foreach { case (wave, w) =>
        wave.toDF("event_type", "value", "op").coalesce(1)
          .write.mode("append").parquet(ddir)
        known = pinNewFiles(ddir, known, w)
      }
    val schema = spark.read.parquet(ddir).schema
    val statePath =
      Files.createTempDirectory("graft_cdc_ooo_st").toString + "/state"
    val cols = Seq("event_type", "n", "total", "avg_v").map(col)
    val fin = EventStream.cdcRollupMaintain(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(ddir), statePath)
      .select(cols: _*)
    val net = ins.filter(_._3 % 4 != 0)
      .map { case (t, v, _) => (t, v) }.toDF("event_type", "value")
    val mono = net.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("total"))
      .withColumn("avg_v", $"total" / $"n".cast("double"))
      .select(cols: _*)
    assert(fin.count() == mono.count() && fin.count() > 0)
    assert(fin.exceptAll(mono).isEmpty && mono.exceptAll(fin).isEmpty)
  }

  test("joinMaintain: view is batching-invariant (one batch vs five)") {
    val all = (0L until 400L).map(i =>
      (if (i % 2 == 0) "a" else "b", i % 5, i))
    val af = all.filter(_._1 == "a").map(t => (t._2, t._3)).toDF("k", "id_a")
    val bf = all.filter(_._1 == "b").map(t => (t._2, t._3)).toDF("k", "id_b")
    val batch = af.join(bf, Seq("k")).select($"k", $"id_a", $"id_b")
      .localCheckpoint()
    Seq(1, 5).foreach { waves =>
      val ddir = Files.createTempDirectory(s"graft_join_w$waves").toString
      var known = Set.empty[java.nio.file.Path]
      (0 until waves).foreach { w =>
        all.filter(_._3 % waves == w).toDF("side", "k", "id").coalesce(1)
          .write.mode("append").parquet(ddir)
        known = pinNewFiles(ddir, known, w)
      }
      val schema = spark.read.parquet(ddir).schema
      val st = Files.createTempDirectory(s"graft_join_st$waves").toString + "/s"
      val fin = EventStream.joinMaintain(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(ddir), st)
      assert(fin.count() == batch.count(), s"waves=$waves")
      assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty,
        s"waves=$waves")
    }
  }

  test("joinMaintain continues correctly over compacted side stores") {
    val all = (0L until 300L).map(i =>
      (if (i % 2 == 0) "a" else "b", i % 5, i))
    val ddir = Files.createTempDirectory("graft_join_cmp").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 2).foreach { w =>
      all.filter(_._3 % 3 == w).toDF("side", "k", "id").coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val st = Files.createTempDirectory("graft_join_cmp_st").toString + "/s"
    EventStream.joinMaintain(spark, stream, st)
    Seq("a", "b", "out").foreach(t =>
      EventStream.compactState(spark, s"$st/$t"))
    // the third wave pairs against the compacted sides; the final view
    // must equal the batch join over everything
    all.filter(_._3 % 3 == 2).toDF("side", "k", "id").coalesce(1)
      .write.mode("append").parquet(ddir)
    known = pinNewFiles(ddir, known, 2)
    val fin = EventStream.joinMaintain(spark, stream, st)
    val af = all.filter(_._1 == "a").map(t => (t._2, t._3)).toDF("k", "id_a")
    val bf = all.filter(_._1 == "b").map(t => (t._2, t._3)).toDF("k", "id_b")
    val batch = af.join(bf, Seq("k")).select($"k", $"id_a", $"id_b")
    assert(fin.count() == batch.count() && fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
  }

  test("joinMaintain: incremental equi-join equals the batch join under " +
      "interleaved waves, replay, and a stale crashed partition") {
    // two tagged sides interleaved across three waves: pairs are forced
    // to form across batches in both directions (a-then-b and b-then-a)
    // as well as within one batch (the ΔA⋈ΔB term)
    val all = (0L until 600L).map(i =>
      (if (i % 2 == 0) "a" else "b", i % 7, i))
    val ddir = Files.createTempDirectory("graft_join_stream").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      all.filter(_._3 % 3 == w).toDF("side", "k", "id").coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    val schema = spark.read.parquet(ddir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val stA = Files.createTempDirectory("graft_join_a").toString + "/s"
    val fin = EventStream.joinMaintain(spark, stream, stA)
    val af = all.filter(_._1 == "a").map(t => (t._2, t._3))
      .toDF("k", "id_a")
    val bf = all.filter(_._1 == "b").map(t => (t._2, t._3))
      .toDF("k", "id_b")
    val batch = af.join(bf, Seq("k")).select($"k", $"id_a", $"id_b")
    assert(fin.count() == batch.count() && fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
    // full replay: every batch id is ledgered, nothing doubles
    val fin2 = EventStream.joinMaintain(spark, stream, stA)
    assert(fin2.count() == batch.count())
    assert(fin2.exceptAll(batch).isEmpty && batch.exceptAll(fin2).isEmpty)
    // crashed-attempt footprint: batch 0's partitions hold WRONG rows
    // (batch 1's data) and no ledger — replay must exclude the stale
    // partition from its side reads and clobber it
    val stB = Files.createTempDirectory("graft_join_b").toString + "/s"
    Seq("a", "b", "out").foreach { t =>
      spark.read.parquet(s"$stA/$t/batch=1")
        .write.mode("overwrite").parquet(s"$stB/$t/batch=0")
    }
    val fin3 = EventStream.joinMaintain(spark, stream, stB)
    assert(fin3.count() == batch.count())
    assert(fin3.exceptAll(batch).isEmpty && batch.exceptAll(fin3).isEmpty)
  }

  test("rollupMaintain fails loudly on the pre-r8 FLAT state layout " +
      "instead of silently restarting accumulation from empty") {
    val statePath =
      Files.createTempDirectory("graft_rollup_flat").toString + "/state"
    // the footprint the pre-r8 rollupMaintain left behind: swapWrite landed
    // the state parquet AT the state root (_SUCCESS + part files), no
    // commit/ directory — the cells/-based guard never saw this layout
    spark.range(1).selectExpr("'A' AS event_type", "CAST(1 AS BIGINT) AS n",
      "CAST(1.0 AS DECIMAL(18,4)) AS total_dec",
      "CAST(1.0 AS DOUBLE) AS vmax", "CAST(1.0 AS DOUBLE) AS vmin")
      .coalesce(1).write.parquet(statePath)
    val emptySrc = Files.createTempDirectory("graft_rollup_flat_src").toString
    val stream = spark.readStream
      .schema("event_type STRING, value DOUBLE").parquet(emptySrc)
    val e = intercept[IllegalArgumentException] {
      EventStream.rollupMaintain(spark, stream, statePath)
    }
    assert(e.getMessage.contains("FLAT state layout"), e.getMessage)
  }

  test("dedupMaintain recovers a ledger rename-window crash: ledgered " +
      "batches stay skipped and never re-land beside compacted state", Slow) {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val ddir = Files.createTempDirectory("graft_ledger_crash_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 2).foreach { w =>
      base.where($"doc_id" % 3 === w).coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val st = Files.createTempDirectory("graft_ledger_crash_st").toString + "/s"
    EventStream.dedupMaintain(spark, stream, st)
    Seq("bands", "shingles", "verdicts").foreach(t =>
      EventStream.compactState(spark, s"$st/$t"))
    // crash simulation: ledgerCommit died between delete(ledger) and
    // rename — the ledger is GONE and a COMPLETE _tmp holds it. Without
    // recovery the restart reads an EMPTY ledger, replays batches 0-1,
    // and re-lands their partitions BESIDE the compacted batch=-1 copy,
    // duplicating every row.
    val fs = hfs(st)
    assert(fs.rename(hpath(s"$st/ledger"), hpath(s"$st/ledger_tmp")))
    assert(fs.exists(hpath(s"$st/ledger_tmp/_SUCCESS")))
    base.where($"doc_id" % 3 === 2).coalesce(1)
      .write.mode("append").parquet(ddir)
    known = pinNewFiles(ddir, known, 2)
    val fin = EventStream.dedupMaintain(spark, stream, st)
    // clean twin over the same 3 waves
    val st2 = Files.createTempDirectory("graft_ledger_clean_st").toString + "/s"
    val clean = EventStream.dedupMaintain(spark, stream, st2)
    assert(fin.count() == clean.count() && fin.count() > 0)
    assert(fin.exceptAll(clean).isEmpty && clean.exceptAll(fin).isEmpty)
    // the ledgered batches must NOT have re-landed partitions beside the
    // compacted copy: batch=-1 plus batch=2 only
    val parts = Files.list(java.nio.file.Paths.get(s"$st/bands")).toArray
      .map(_.toString).filter(_.contains("batch=")).sorted
    assert(parts.map(_.split("batch=").last).toSeq == Seq("-1", "2"),
      parts.mkString(","))
  }

  test("soak: 60 CDC micro-batches through snapshotDiffMaintain with " +
      "interleaved compactions — the reconstructed snapshot matches a " +
      "brute-force LWW oracle at every checkpoint", Slow) {
    // keys cycle over [0, 40); each batch upserts or deletes a sliding
    // window of them with a strictly-increasing seq, so every key is
    // touched many times and the live set churns constantly. The oracle
    // is a driver-side map replaying the same events.
    val ddir = Files
      .createTempDirectory("graft_snapsoak_docs").toString + "/events"
    val nBatches = 60
    val events = (0 until nBatches).map { b =>
      (0 until 5).map { i =>
        val key = ((b * 7 + i * 3) % 40).toLong
        val seq = (b * 10 + i).toLong
        if ((b + i) % 4 == 3) (key, "D", Option.empty[Long], seq)
        else (key, "U", Some(key * 1000 + seq), seq)
      }
    }
    events.zipWithIndex.foreach { case (rows, b) =>
      rows.toDF("doc_id", "op", "fp", "seq").coalesce(1)
        .write.mode("append").parquet(ddir)
      new java.io.File(ddir).listFiles
        .filter(f => f.getName.endsWith(".parquet") &&
          f.lastModified > 1710000000000L)
        .foreach(_.setLastModified(1700000000000L + b * 60000L))
    }
    // driver-side oracle: last-wins by seq (each in-batch event already
    // has a distinct key here except when the window wraps — replay in
    // seq order to be exact)
    val oracle = scala.collection.mutable.Map.empty[Long, (String, Long, Long)]
    events.flatten.sortBy(_._4).foreach { case (k, op, fp, seq) =>
      if (!oracle.get(k).exists(_._3 >= seq))
        oracle(k) = (op, fp.getOrElse(-1L), seq)
    }
    val expect = oracle.collect { case (k, ("U", fp, _)) => k -> fp }.toMap
    val statePath = Files
      .createTempDirectory("graft_snapsoak_s").toString + "/state"
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val verdicts = EventStream.snapshotDiffMaintain(spark, stream, statePath)
    assert(verdicts.count() == nBatches.toLong)
    def snapMap() = EventStream.snapshotCurrent(spark, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snapMap() == expect, s"diff: ${snapMap().toSet diff expect.toSet}")
    // compaction mid-life: fold the log, snapshot unchanged; then replay
    // the whole stream (fresh checkpoint) — ledger skips everything
    EventStream.compactState(spark, statePath + "/fps")
    EventStream.compactState(spark, statePath + "/verdicts")
    assert(snapMap() == expect)
    val v2 = EventStream.snapshotDiffMaintain(spark, stream, statePath)
    assert(v2.count() == nBatches.toLong && snapMap() == expect)
    // the log's file population is bounded by compaction: one folded
    // partition plus nothing new from the skipped replay
    val parts = new java.io.File(statePath + "/fps").listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(parts == Seq("batch=-1"), parts.mkString(","))
    // time travel deep into the soak: version 299 (= batch 29's last
    // event) must equal the oracle replayed to that point
    val expect299 = {
      val o = scala.collection.mutable.Map.empty[Long, (String, Long, Long)]
      events.flatten.filter(_._4 <= 299L).sortBy(_._4).foreach {
        case (k, op, fp, seq) =>
          if (!o.get(k).exists(_._3 >= seq))
            o(k) = (op, fp.getOrElse(-1L), seq)
      }
      o.collect { case (k, ("U", fp, _)) => k -> fp }.toMap
    }
    val asOf299 = EventStream.snapshotAsOf(spark, statePath, 299L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asOf299 == expect299)
  }

  test("soak: 100 CDC micro-batches with the AUTO-compaction cadence — " +
      "log depth stays bounded by (live keys + retention tail) instead " +
      "of growing with the stream, and every verdict is bit-identical " +
      "to an uncompacted run", Slow) {
    // same churn shape as the 60-batch soak: keys cycle [0, 40), seq
    // strictly increases 10 per batch, ~every 4th event is a delete
    val ddir = Files
      .createTempDirectory("graft_autocmp_docs").toString + "/events"
    val nBatches = 100
    val events = (0 until nBatches).map { b =>
      (0 until 5).map { i =>
        val key = ((b * 7 + i * 3) % 40).toLong
        val seq = (b * 10 + i).toLong
        if ((b + i) % 4 == 3) (key, "D", Option.empty[Long], seq)
        else (key, "U", Some(key * 1000 + seq), seq)
      }
    }
    events.zipWithIndex.foreach { case (rows, b) =>
      rows.toDF("doc_id", "op", "fp", "seq").coalesce(1)
        .write.mode("append").parquet(ddir)
      new java.io.File(ddir).listFiles
        .filter(f => f.getName.endsWith(".parquet") &&
          f.lastModified > 1710000000000L)
        .foreach(_.setLastModified(1700000000000L + b * 60000L))
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val autoP = Files
      .createTempDirectory("graft_autocmp_a").toString + "/state"
    val plainP = Files
      .createTempDirectory("graft_autocmp_p").toString + "/state"
    // cadence: compact every 10 ledgered batches to high-water − 150
    // (15 batches of seq headroom stay individually time-travelable)
    val retention = 150L
    val vAuto = EventStream
      .snapshotDiffMaintain(spark, stream, autoP,
        compactEvery = 10, retention = retention)
      .collect().map(r => r.getAs[Long]("batch_id") -> r.toString).toMap
    val vPlain = EventStream.snapshotDiffMaintain(spark, stream, plainP)
      .collect().map(r => r.getAs[Long]("batch_id") -> r.toString).toMap
    assert(vAuto.size == nBatches && vAuto == vPlain,
      (vAuto.toSet diff vPlain.toSet).toString)
    // the cadence actually ran and is where it should be: horizon =
    // high-water − retention from the last multiple-of-10 ledgered batch
    val highWater = events.flatten.map(_._4).max
    val h = EventStream.snapshotHorizon(spark, autoP)
    assert(h == highWater - retention, s"horizon $h")
    assert(EventStream.snapshotHorizon(spark, plainP) == Long.MinValue)
    // BOUNDED per-batch log depth — the claim the cadence exists for:
    // the auto-compacted log holds ≤ (distinct keys, tombstones
    // included) + (events above the horizon); the uncompacted log holds
    // every event ever
    val autoRows = spark.read.parquet(autoP + "/fps").count()
    val tailRows = events.flatten.count(_._4 > h)
    assert(autoRows <= 40L + tailRows, s"$autoRows vs ${40L + tailRows}")
    assert(spark.read.parquet(plainP + "/fps").count() ==
      events.flatten.size.toLong)
    // ...and the partition population is bounded by retention + cadence,
    // not the stream's lifetime: one base + the retention window's
    // batches (tail events keep their batch= partitions — the
    // exclude-own-batch reads need them) + at most compactEvery−1
    // batches since the last compaction (here 0: the 100th batch
    // compacted). 150 seq of retention = 15 batches → ≤ 16.
    val parts = new java.io.File(autoP + "/fps").listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(parts.size <= 16, parts.sorted.mkString(","))
    // still-promised versions reconstruct identically on both stores;
    // folded-away versions refuse loudly on the compacted one
    def asOf(p: String, v: Long) = EventStream.snapshotAsOf(spark, p, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asOf(autoP, highWater) == asOf(plainP, highWater))
    assert(asOf(autoP, h) == asOf(plainP, h))
    val ex = intercept[IllegalArgumentException] { asOf(autoP, h - 1) }
    assert(ex.getMessage.contains("predates"), ex.getMessage)
  }

  test("soak: 200 micro-batches through dedupMaintain with mid-stream " +
      "compaction — file counts stay bounded, ledger exact, verdicts " +
      "match the closed form", Slow) {
    val nDocs = 200
    val ddir = Files.createTempDirectory("graft_soak_docs").toString
    // doc 2g and 2g+1 share identical text (near-dup pairs by
    // construction); groups are token-disjoint so cross-group similarity
    // is zero. One partitionBy write = one file per doc; mtimes pinned to
    // doc order so the file source's batching is identical across the two
    // runs (the ledger skip in run B must map batch ids to the same files
    // run A processed).
    def writeDocs(ids: Seq[Int]): Unit = {
      ids.map { i =>
        val g = i / 2
        (i.toLong,
          s"a$g b$g c$g d$g e$g f$g h$g i$g j$g k$g l$g m$g")
      }.toDF("doc_id", "text")
        .write.mode("append").partitionBy("doc_id").parquet(ddir)
      Files.list(java.nio.file.Paths.get(ddir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("doc_id="))
        .foreach { d =>
          val id = d.getFileName.toString.stripPrefix("doc_id=").toLong
          Files.list(d).toArray.toSeq
            .map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.getFileName.toString.startsWith("part-"))
            .foreach(f => Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime
                .fromMillis(1000000000000L + id * 1000L)))
        }
    }
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val st = Files.createTempDirectory("graft_soak_st").toString + "/s"
    def partitionsOf(t: String): Seq[String] =
      Files.list(java.nio.file.Paths.get(s"$st/$t")).toArray
        .map(_.toString).filter(_.contains("batch="))
        .map(_.split("batch=").last).sorted.toSeq
    // run A: 120 one-doc micro-batches, then compact all three stores.
    // tierK = 0: this soak pins the LEGACY one-partition-per-batch layout
    // and its compactState/ledger-skip interplay; the tiered layout has
    // its own soak below
    writeDocs(0 until 120)
    EventStream.dedupMaintain(spark, stream, st, tierK = 0)
    assert(partitionsOf("bands").length == 120)
    Seq("bands", "shingles", "verdicts").foreach(t =>
      EventStream.compactState(spark, s"$st/$t"))
    Seq("bands", "shingles", "verdicts").foreach(t =>
      assert(partitionsOf(t) == Seq("-1"), s"$t: ${partitionsOf(t)}"))
    // run B: the remaining 80 docs arrive; the re-listed batches 0-119
    // are ledger-skipped (same files, same order), 120-199 process
    // against the compacted index
    writeDocs(120 until nDocs)
    val fin = EventStream.dedupMaintain(spark, stream, st, tierK = 0)
      .localCheckpoint()
    // ledger saw every batch exactly once
    val ledger = spark.read.parquet(s"$st/ledger")
      .select($"batch_id").as[Long].collect().sorted
    assert(ledger.toSeq == (0L until nDocs.toLong),
      s"ledger: ${ledger.take(10).mkString(",")}... n=${ledger.length}")
    // ledger-skipped replays must NOT have re-landed partitions beside
    // the compacted copy: batch=-1 plus exactly 120..199
    assert(partitionsOf("bands") ==
      ("-1" +: (120 until nDocs).map(_.toString)).sorted,
      partitionsOf("bands").take(10).mkString(","))
    // closed-form verdict contract: one row per doc; in every pair-group
    // exactly one member is the dup, its best match is its partner at
    // jaccard exactly 1.0; nothing matches across groups
    assert(fin.count() == nDocs.toLong)
    val rows = fin.select($"doc_id", $"is_dup",
      $"best_match", $"best_jaccard").collect()
    assert(rows.count(_.getBoolean(1)) == nDocs / 2)
    rows.filter(_.getBoolean(1)).foreach { r =>
      val id = r.getLong(0)
      val partner = if (id % 2 == 0) id + 1 else id - 1
      assert(r.getLong(2) == partner, s"doc $id matched ${r.getLong(2)}")
      assert(r.getDouble(3) == 1.0, s"doc $id jaccard ${r.getDouble(3)}")
    }
    val dupGroups = rows.filter(_.getBoolean(1)).map(_.getLong(0) / 2).toSet
    assert(dupGroups.size == nDocs / 2, "exactly one dup per pair-group")
    // final compaction: the whole soak collapses to one partition per
    // store with a small bounded file count, results unchanged
    Seq("bands", "shingles", "verdicts").foreach(t =>
      EventStream.compactState(spark, s"$st/$t"))
    Seq("bands", "shingles", "verdicts").foreach { t =>
      assert(partitionsOf(t) == Seq("-1"), s"$t: ${partitionsOf(t)}")
      val nFiles = Files.walk(java.nio.file.Paths.get(s"$st/$t")).toArray.length
      assert(nFiles < 20, s"$t holds $nFiles paths after compaction")
    }
    val post = spark.read.parquet(s"$st/verdicts").drop("batch")
    assert(post.count() == nDocs.toLong &&
      post.exceptAll(fin).isEmpty && fin.exceptAll(post).isEmpty)
  }

  test("soak: 120 micro-batches through TIERED dedupMaintain — verdicts " +
      "and index reads bit-identical to the untiered twin, partition and " +
      "file counts bounded (O(K log N), not one per batch), crash " +
      "leftovers at every fold window are invisible and self-heal, " +
      "compactState folds the tiered store correctly", Slow) {
    val nDocs = 120
    def mkDocs(): String = {
      val d = Files.createTempDirectory("graft_tier_docs").toString
      (0 until nDocs).foreach { i =>
        val g = i / 2
        Seq((i.toLong,
          s"a$g b$g c$g d$g e$g f$g h$g i$g j$g k$g l$g m$g"))
          .toDF("doc_id", "text")
          .write.mode("append").partitionBy("doc_id").parquet(d)
      }
      Files.list(java.nio.file.Paths.get(d)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("doc_id="))
        .foreach { dd =>
          val id = dd.getFileName.toString.stripPrefix("doc_id=").toLong
          Files.list(dd).toArray.toSeq
            .map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.getFileName.toString.startsWith("part-"))
            .foreach(f => Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime
                .fromMillis(1000000000000L + id * 1000L)))
        }
      d
    }
    val ddir = mkDocs()
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val stT = Files.createTempDirectory("graft_tier_t").toString + "/s"
    val stU = Files.createTempDirectory("graft_tier_u").toString + "/s"
    val tiered = EventStream.dedupMaintain(spark, stream, stT, tierK = 4)
      .localCheckpoint()
    val untiered = EventStream.dedupMaintain(spark, stream, stU, tierK = 0)
      .localCheckpoint()
    // the READ CONTRACT is unchanged: verdicts and the live index view
    // are bit-identical to the untiered twin
    assert(tiered.count() == nDocs.toLong)
    assert(tiered.exceptAll(untiered).isEmpty &&
      untiered.exceptAll(tiered).isEmpty)
    Seq("bands", "shingles", "verdicts").foreach { t =>
      val a = EventStream.readTiered(spark, s"$stT/$t").drop("batch")
      val b = spark.read.parquet(s"$stU/$t").drop("batch")
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty &&
        b.exceptAll(a).isEmpty, s"$t live view diverged")
    }
    // the small-files claim, measured: 120 batches × tierK=4 leaves
    // O(K·log_K N) live partitions (~6 segments + <K tail), not 120 —
    // and the total file count is bounded with them
    def partsOf(st: String, t: String): Seq[Long] =
      Files.list(java.nio.file.Paths.get(s"$st/$t")).toArray
        .map(_.toString).filter(_.contains("batch="))
        .map(_.split("batch=").last.toLong).toSeq
    Seq("bands", "shingles", "verdicts").foreach { t =>
      assert(partsOf(stU, t).size == nDocs)
      val n = partsOf(stT, t).size
      assert(n <= 12, s"$t: $n live partitions after $nDocs batches")
      val nFiles =
        Files.walk(java.nio.file.Paths.get(s"$stT/$t")).toArray.length
      assert(nFiles < 120, s"$t holds $nFiles paths")
    }
    // crash window 1 (segment written, manifest NOT committed): an
    // orphan segment is invisible to reads and GC'd by the next cycle
    val bandsP = s"$stT/bands"
    val orphanId = -((1L << 40) | (999L + 2L)) // deterministic encoding
    spark.read.parquet(s"$stU/bands/batch=0").drop("batch")
      .write.parquet(s"$bandsP/batch=$orphanId")
    // crash window 2 (manifest committed, members NOT yet GC'd): a stale
    // member partition resurrected beside its committed segment is
    // invisible too (it is covered), and GC'd by the next cycle
    spark.read.parquet(s"$stU/bands/batch=0").drop("batch")
      .write.parquet(s"$bandsP/batch=0")
    val cleanBands = EventStream.readTiered(spark, bandsP)
      .drop("batch").localCheckpoint()
    assert(cleanBands.exceptAll(
      spark.read.parquet(s"$stU/bands").drop("batch")).isEmpty)
    // manifest delete→promote window: a complete tmp beside a missing
    // manifest promotes on the next read
    val fs = hfs(stT)
    assert(fs.rename(hpath(s"$bandsP/_graft_segments"),
      hpath(s"$bandsP/_graft_segments_tmp")))
    assert(EventStream.readSegManifest(spark, bandsP).nonEmpty)
    assert(fs.exists(hpath(s"$bandsP/_graft_segments")))
    // the next ledgered cycle GC-sweeps both crash leftovers and keeps
    // the view identical: one more doc arrives on each twin
    Seq((nDocs.toLong, "zz yy xx ww vv uu tt ss rr qq pp oo"))
      .toDF("doc_id", "text").write.mode("append")
      .partitionBy("doc_id").parquet(ddir)
    val fin = EventStream.dedupMaintain(spark, stream, stT, tierK = 4)
    val finU = EventStream.dedupMaintain(spark, stream, stU, tierK = 0)
    assert(fin.count() == nDocs + 1L)
    assert(fin.exceptAll(finU).isEmpty && finU.exceptAll(fin).isEmpty)
    assert(!fs.exists(hpath(s"$bandsP/batch=$orphanId")), "orphan not GC'd")
    assert(!fs.exists(hpath(s"$bandsP/batch=0")), "stale member not GC'd")
    // compactState over a TIERED store: folds the LIVE view (segments +
    // tail, not raw dirs) into batch=-1, manifest gone, rows preserved
    EventStream.compactState(spark, bandsP)
    assert(partsOf(stT, "bands") == Seq(-1L), partsOf(stT, "bands"))
    assert(!fs.exists(hpath(s"$bandsP/_graft_segments")))
    val folded = spark.read.parquet(bandsP).drop("batch")
    val expectB = spark.read.parquet(s"$stU/bands").drop("batch")
    assert(folded.count() == expectB.count() &&
      folded.exceptAll(expectB).isEmpty && expectB.exceptAll(folded).isEmpty)
  }

  test("ivfMaintain: streamed postings equal the batch assignment under " +
      "any batching, survive full replay and compaction; ivfProbe matches " +
      "the independently-computed probe-and-rescore") {
    import graft.ext.KMeans
    import graft.functions.GraftFunctions.dotExact
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val src = "/root/testdata/sf0.001"
    val cb = KMeans.trainCodebook(Tables.embeddings(spark, src), 8, 2)
      .localCheckpoint()
    // three arrival waves of the embedding corpus
    val edir = Files.createTempDirectory("graft_ivf_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .where($"vec_id" % 3 === w).coalesce(1)
        .write.mode("append").parquet(edir)
      known = pinNewFiles(edir, known, w)
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(edir).schema)
      .option("maxFilesPerTrigger", "1").parquet(edir)
    val st = Files.createTempDirectory("graft_ivf_st").toString + "/s"
    val fin = EventStream.ivfMaintain(spark, stream, st, cb)
    // batch twin, expressed INDEPENDENTLY (window rank, not max_by)
    val e = Tables.embeddings(spark, src)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
      .withColumn("n2", dotExact($"embedding", $"embedding"))
      .localCheckpoint()
    val scored = e.join(broadcast(cb.select($"cid", $"ce", $"cn2")))
      .select($"vec_id", $"cid", $"n2", $"embedding",
        graft.ext.Similarity.cosine(dotExact($"embedding", $"ce"),
          $"n2", $"cn2").as("c_sim"))
      .localCheckpoint()
    val byQ = Window.partitionBy($"vec_id")
      .orderBy($"c_sim".desc, $"cid".asc)
    val batchAssign = scored
      .withColumn("rn", row_number().over(byQ)).where($"rn" === 1)
      .select($"vec_id", $"cid", $"c_sim")
    val got = fin.select($"vec_id", $"cid", $"c_sim")
    assert(got.count() == batchAssign.count() && got.count() > 0)
    assert(got.exceptAll(batchAssign).isEmpty &&
      batchAssign.exceptAll(got).isEmpty)
    // full replay: every batch id ledgered, nothing doubles
    val fin2 = EventStream.ivfMaintain(spark, stream, st, cb)
    assert(fin2.count() == batchAssign.count())
    // compaction collapses the per-batch partitions; the index still serves
    EventStream.compactState(spark, s"$st/postings")
    val parts = Files.list(java.nio.file.Paths.get(s"$st/postings")).toArray
      .map(_.toString).filter(_.contains("batch="))
    assert(parts.length == 1 && parts.head.endsWith("batch=-1"))
    val queries = Tables.embeddings(spark, src)
      .where($"vec_id" >= 100 && $"vec_id" < 105)
    val served = EventStream.ivfProbe(spark, st, cb, queries,
      nprobe = 2, k = 10)
    // ingest -> serve hand-off: the promoted BUCKETED serving table
    // answers identically through the zero-shuffle probe path
    val tbl = EventStream.ivfPromoteBucketed(spark, st, "streamspec")
    val servedB = graft.ext.KMeans.probePostingsBucketed(
      tbl, cb, queries, nprobe = 2, k = 10)
    assert(servedB.exceptAll(served).isEmpty &&
      served.exceptAll(servedB).isEmpty)
    // independent expectation: probed cells via the window rank, exact
    // rescore inside them, top-10
    val probes = scored.where($"vec_id" >= 100 && $"vec_id" < 105)
      .withColumn("rn", row_number().over(byQ)).where($"rn" <= 2)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"n2".as("q_n2"), $"cid")
    val topk = Window.partitionBy($"query_id")
      .orderBy($"cosine_sim".desc, $"cand_id".asc)
    val expected = batchAssign.select($"vec_id".as("cand_id"), $"cid")
      .join(e.select($"vec_id".as("cand_id"), $"embedding", $"n2"), "cand_id")
      .join(probes, Seq("cid"))
      .where($"cand_id" =!= $"query_id")
      .select($"query_id", $"cand_id",
        graft.ext.Similarity.cosine(dotExact($"q_emb", $"embedding"),
          $"q_n2", $"n2").as("cosine_sim"))
      .withColumn("rank", row_number().over(topk).cast("int"))
      .where($"rank" <= 10)
    assert(served.count() == expected.count() && served.count() > 0)
    assert(served.exceptAll(expected).isEmpty &&
      expected.exceptAll(served).isEmpty)
  }

  test("ivfMaintain replays a crashed batch OVER its stale partition: " +
      "clobbered, not doubled") {
    import graft.ext.KMeans
    val src = "/root/testdata/sf0.001"
    val cb = KMeans.trainCodebook(Tables.embeddings(spark, src), 8, 1)
      .localCheckpoint()
    val edir = Files.createTempDirectory("graft_ivf_crash_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 2).foreach { w =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .where($"vec_id" % 2 === w).coalesce(1)
        .write.mode("append").parquet(edir)
      known = pinNewFiles(edir, known, w)
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(edir).schema)
      .option("maxFilesPerTrigger", "1").parquet(edir)
    val stA = Files.createTempDirectory("graft_ivf_crash_a").toString + "/s"
    val clean = EventStream.ivfMaintain(spark, stream, stA, cb)
      .localCheckpoint()
    // crashed-attempt footprint: batch 0's partition holds WRONG rows
    // (batch 1's data) and no ledger row — the replay must overwrite the
    // partition, not append beside it
    val stB = Files.createTempDirectory("graft_ivf_crash_b").toString + "/s"
    spark.read.parquet(s"$stA/postings/batch=1")
      .write.mode("overwrite").parquet(s"$stB/postings/batch=0")
    val fin = EventStream.ivfMaintain(spark, stream, stB, cb)
    assert(fin.count() == clean.count() && fin.count() > 0)
    assert(fin.exceptAll(clean).isEmpty && clean.exceptAll(fin).isEmpty)
  }

  test("bm25Maintain + bm25Search: the streamed inverted index serves " +
      "EXACTLY the batch q83 ranking, survives replay and compaction") {
    val src = "/root/testdata/sf0.001"
    val ddir = Files.createTempDirectory("graft_bm25_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 3).foreach { w =>
      spark.read.parquet(s"$src/documents.parquet")
        .select($"doc_id", $"text")
        .where($"doc_id" % 3 === w).coalesce(1)
        .write.mode("append").parquet(ddir)
      known = pinNewFiles(ddir, known, w)
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val st = Files.createTempDirectory("graft_bm25_st").toString + "/s"
    val dl = EventStream.bm25Maintain(spark, stream, st)
    assert(dl.count() ==
      spark.read.parquet(s"$src/documents.parquet").count())
    val batch = SparkEntry.queries("q83_bm25")(spark, src).localCheckpoint()
    val terms = Seq("dup", "vector", "hash")
    val served = EventStream.bm25Search(spark, st, terms)
    assert(served.count() == batch.count() && served.count() > 0)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty)
    // full replay: ledgered batch ids are skipped, the index is unchanged
    EventStream.bm25Maintain(spark, stream, st)
    // compaction collapses both stores; the served ranking is unchanged
    Seq("postings", "doclens").foreach(t =>
      EventStream.compactState(spark, s"$st/$t"))
    val served2 = EventStream.bm25Search(spark, st, terms)
    assert(served2.exceptAll(batch).isEmpty &&
      batch.exceptAll(served2).isEmpty)
  }

  test("tiered layout on the ivf/bm25/variant stores: postings equal the " +
      "untiered twin, the bucketed promote and bm25 serving read the " +
      "manifest-filtered view, partitions fold", Slow) {
    import graft.ext.KMeans
    val src = "/root/testdata/sf0.001"
    val cb = KMeans.trainCodebook(Tables.embeddings(spark, src), 8, 1)
      .localCheckpoint()
    // 12 one-wave micro-batches → with tierK=3 the postings store folds
    // (level-1 segments of 3, cascading) while the twin keeps 12 dirs
    val edir = Files.createTempDirectory("graft_ivf_tier_docs").toString
    var known = Set.empty[java.nio.file.Path]
    (0 until 12).foreach { w =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .where($"vec_id" % 12 === w).coalesce(1)
        .write.mode("append").parquet(edir)
      known = pinNewFiles(edir, known, w)
    }
    def stream = spark.readStream
      .schema(spark.read.parquet(edir).schema)
      .option("maxFilesPerTrigger", "1").parquet(edir)
    val stT = Files.createTempDirectory("graft_ivf_tier_t").toString + "/s"
    val stU = Files.createTempDirectory("graft_ivf_tier_u").toString + "/s"
    val tiered = EventStream.ivfMaintain(spark, stream, stT, cb, tierK = 3)
      .localCheckpoint()
    val untiered = EventStream.ivfMaintain(spark, stream, stU, cb,
      tierK = 0).localCheckpoint()
    assert(tiered.count() == untiered.count() && tiered.count() > 0)
    assert(tiered.exceptAll(untiered).isEmpty &&
      untiered.exceptAll(tiered).isEmpty)
    def nParts(st: String, t: String): Int =
      Files.list(java.nio.file.Paths.get(s"$st/$t")).toArray
        .map(_.toString).count(_.contains("batch="))
    assert(nParts(stU, "postings") == 12)
    assert(nParts(stT, "postings") <= 6,
      s"postings: ${nParts(stT, "postings")}")
    // the ingest→serve promote reads the manifest-filtered view: the
    // bucketed serving table from the tiered store matches the twin's
    val tT = EventStream.ivfPromoteBucketed(spark, stT, "tier_t", 4)
    val tU = EventStream.ivfPromoteBucketed(spark, stU, "tier_u", 4)
    val a = spark.table(tT)
    val b = spark.table(tU)
    assert(a.count() == b.count() && a.exceptAll(b).isEmpty &&
      b.exceptAll(a).isEmpty)
    // bm25: a tiered index serves the identical batch-q83 ranking
    val ddir = Files.createTempDirectory("graft_bm25_tier_docs").toString
    var kn = Set.empty[java.nio.file.Path]
    (0 until 9).foreach { w =>
      spark.read.parquet(s"$src/documents.parquet")
        .select($"doc_id", $"text").where($"doc_id" % 9 === w).coalesce(1)
        .write.mode("append").parquet(ddir)
      kn = pinNewFiles(ddir, kn, w)
    }
    def dstream = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    val stB = Files.createTempDirectory("graft_bm25_tier_st").toString + "/s"
    EventStream.bm25Maintain(spark, dstream, stB, tierK = 3)
    assert(nParts(stB, "postings") <= 5, s"bm25: ${nParts(stB, "postings")}")
    val served = EventStream.bm25Search(spark, stB,
      Seq("dup", "vector", "hash"))
    val batch = SparkEntry.queries("q83_bm25")(spark, src)
    assert(served.count() == batch.count() && served.count() > 0)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty)
  }

  test("kmeansMaintain seeds k centroids from a ranged-id first batch") {
    import graft.ext.KMeans
    val src = "/root/testdata/sf0.001"
    // every vec_id shifted by +1000: the old `vec_id < k` shortcut would
    // seed ZERO centroids here; the orderBy+limit init must still pick
    // the k smallest ids, which are the SAME vectors as the unshifted
    // fixture's ids 0..k-1, so the whole run is the batch Lloyd round
    // with every cid shifted by the same constant (assignment ties break
    // on -cid, which a constant shift preserves)
    val edir = Files.createTempDirectory("graft_km_ranged").toString
    spark.read.parquet(s"$src/embeddings.parquet")
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
      .coalesce(1).write.mode("overwrite").parquet(edir)
    val schema = spark.read.parquet(edir).schema
    val st = Files.createTempDirectory("graft_km_ranged_st").toString + "/s"
    val fin = EventStream.kmeansMaintain(spark,
      spark.readStream.schema(schema).parquet(edir), st, 8)
    assert(fin.count() == 8, "a ranged first batch must still seed k centroids")
    val batch = KMeans.trainCodebook(Tables.embeddings(spark, src), 8, 1)
      .withColumn("cid", $"cid" + 1000L)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
  }
}
