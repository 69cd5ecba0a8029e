package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: session temp-dir reclamation (TempDirs), the
  * SessionCaches registry replacing the parallel invalidator lists, the
  * tiering missing-manifest guard, real MJPEG-in-AVI decode, and the
  * q345 skew kill-test's quantitative straggler bound.
  */
class Round15Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // ---- TempDirs -----------------------------------------------------

  test("TempDirs: purge removes registered dirs recursively, is " +
      "idempotent, and is scoped to one applicationId") {
    // r16: runs against SYNTHETIC appIds, not the shared test session's
    // — purge(app) is destructive and whole-app, so counting or purging
    // the REAL app here raced every parallel suite that holds live temp
    // state (observed: Round16Spec's maintainer state dirs deleted
    // mid-test). The semantics under test (registration, recursive
    // delete, idempotency, per-app scoping) are identical.
    val app = s"r15-tempdirs-test-${System.nanoTime()}"
    val other = app + "-other"
    def mk(prefix: String, owner: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      TempDirs.registerFor(owner, p)
      p
    }
    assert(TempDirs.registered(app).isEmpty)
    val d1 = mk("r15_tmp_a", app)
    val d2 = mk("r15_tmp_b", app)
    java.nio.file.Files.createDirectories(d1.resolve("nested/deep"))
    java.nio.file.Files.write(d1.resolve("nested/deep/x.bin"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(d2.resolve("y.txt"), "y".getBytes)
    assert(TempDirs.registered(app).size == 2)
    TempDirs.purge(app)
    assert(!java.nio.file.Files.exists(d1) &&
      !java.nio.file.Files.exists(d2))
    assert(TempDirs.registered(app).isEmpty)
    TempDirs.purge(app) // idempotent
    // scoping: dirs registered under a DIFFERENT app survive this
    // app's purge untouched (purge keys strictly on appId)
    val d3 = mk("r15_tmp_c", other)
    TempDirs.purge(app)
    assert(java.nio.file.Files.exists(d3))
    TempDirs.purge(other)
    assert(!java.nio.file.Files.exists(d3))
  }

  test("TempDirs: a purged session-cached gate re-runs green into fresh " +
      "dirs (the bench-replay invalidator path end to end)") {
    val app = spark.sparkContext.applicationId
    // run the cheapest session-cached gate once, then invalidate its
    // cache AND purge its temp dirs — the re-run must rebuild from
    // nothing and still produce identical rows
    val a = SparkEntry.queries("q317_schema_evolution")(spark, dir)
      .collect().toSet
    SessionCaches.invalidate("q317_schema_evolution", app)
    // r16: purge ONLY this gate's dirs (by its "graft_schema_evo"
    // prefix) — a whole-app purge here deleted the live temp state of
    // suites running in parallel under the shared session
    TempDirs.purgeMatching(app, "graft_schema_evo")
    val b = SparkEntry.queries("q317_schema_evolution")(spark, dir)
      .collect().toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- SessionCaches registry ----------------------------------------

  test("SessionCaches: every registered gate names a real query, and " +
      "the full q314-q337 protocol-gate family is registered") {
    val qnames = SparkEntry.queries.keySet // forces module (and cache) init
    val lines = qnames ++ Substrates.builds.map(_._1)
    val gates = SessionCaches.registered
    gates.foreach(g => assert(lines.contains(g),
      s"SessionCaches name '$g' is not a query or substrate line — a " +
        "typo here silently reverts that cache to the unadjudicable " +
        "blind spot"))
    val expected = Set(
      "q314_variant_store", "q315_medallion_gate", "q316_variant_stream",
      "q317_schema_evolution", "q318_permissive_load",
      "q319_codec_roundtrip", "q321_stream_snapshot_diff",
      "q323_bucketed_snapshot_diff", "q324_compaction_gate",
      "q325_deletion_propagation", "q326_history_scrub",
      "q327_snapshot_horizon", "q328_probe_reset_gate",
      "q329_serving_merge_gate", "q330_tombstone_retire",
      "q331_index_deletion", "q337_tiered_dedup_stream")
    assert(expected.subsetOf(gates),
      s"missing gate registrations: ${expected -- gates}")
  }

  test("SessionCaches.invalidate drops only the given app's entries") {
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val name = "q315_medallion_gate"
    val g = SessionCaches.memo[String, String](name)
    g.getOrElseUpdate(("appA", "/d"), "va")
    g.getOrElseUpdate(("appB", "/d"), "vb")
    SessionCaches.invalidate(name, "appA")
    // appA's entry is gone (recomputes), appB's survives
    assert(g.getOrElseUpdate(("appA", "/d"), "va2") == "va2")
    assert(g.getOrElseUpdate(("appB", "/d"), "vb2") == "vb")
    SessionCaches.invalidate(name, "appA")
    SessionCaches.invalidate(name, "appB")

    // The memo contract, Spark-free: synthetic app ids, and latches (no
    // sleeps) hold a build in flight. The caches register under a real
    // query name, so the registered-name check holds in any test order.
    val app = s"r15-memo-${System.nanoTime()}"
    def await(l: CountDownLatch): Unit =
      assert(l.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // run `body` on its own thread; the returned thunk joins it
    def spawn(body: => String): (Thread, () => String) = {
      val out = new AtomicReference[String]()
      val t = new Thread(() => out.set(body))
      t.setDaemon(true)
      t.start()
      (t, () => { t.join(30000); assert(!t.isAlive); out.get })
    }
    // a first call on key "A" whose build counts itself, signals
    // `started` and blocks until `release`
    def blockedBuild(m: SessionCaches.Memo[String, String], v: String,
        started: CountDownLatch, release: CountDownLatch,
        builds: AtomicInteger): (Thread, () => String) =
      spawn(m.getOrElseUpdate((app, "A"), {
        builds.incrementAndGet()
        started.countDown()
        await(release)
        v
      }))
    try {
      // two threads that first-call one key run the build once
      val once = SessionCaches.memo[String, String](name)
      val builds = new AtomicInteger()
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val (_, first) = blockedBuild(once, "v1", started, release, builds)
      await(started)
      val (t2, second) =
        blockedBuild(once, "v2", new CountDownLatch(1), release, builds)
      // release only once the second caller is parked: on the in-flight
      // handle, or on `release` inside a duplicate build
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def parked = t2.getState == Thread.State.WAITING ||
        t2.getState == Thread.State.TIMED_WAITING
      while (!parked && System.nanoTime() < deadline) Thread.onSpinWait()
      release.countDown()
      val (v1, v2) = (first(), second())
      assert(builds.get == 1, "two first callers built twice")
      assert(v1 == "v1" && v2 == "v1")

      // a build blocked on key A does not block key B
      val keys = SessionCaches.memo[String, String](name)
      val startedA = new CountDownLatch(1)
      val releaseA = new CountDownLatch(1)
      val (_, a) =
        blockedBuild(keys, "a", startedA, releaseA, new AtomicInteger())
      await(startedA)
      try {
        val (_, b) = spawn(keys.getOrElseUpdate((app, "B"), "b"))
        assert(b() == "b")
      } finally releaseA.countDown()
      assert(a() == "a")

      // invalidate during A's in-flight build: the next call rebuilds
      val inv = SessionCaches.memo[String, String](name)
      val startedI = new CountDownLatch(1)
      val releaseI = new CountDownLatch(1)
      val (_, stale) =
        blockedBuild(inv, "stale", startedI, releaseI, new AtomicInteger())
      await(startedI)
      SessionCaches.invalidate(name, app)
      releaseI.countDown()
      assert(stale() == "stale")
      assert(inv.getOrElseUpdate((app, "A"), "fresh") == "fresh")

      // a failed build is not cached
      val failing = SessionCaches.memo[String, String](name)
      intercept[IllegalStateException](failing.getOrElseUpdate((app, "A"),
        throw new IllegalStateException("build failed")))
      assert(failing.getOrElseUpdate((app, "A"), "ok") == "ok")

      // two caches registered under one name never return each other's
      // values, and one invalidate drops both
      val c1 = SessionCaches.memo[String, String](name)
      val c2 = SessionCaches.memo[String, String](name)
      assert(c1.getOrElseUpdate((app, "A"), "one") == "one")
      assert(c2.getOrElseUpdate((app, "A"), "two") == "two")
      assert(c1.getOrElseUpdate((app, "A"), "x") == "one")
      SessionCaches.invalidate(name, app)
      assert(c1.getOrElseUpdate((app, "A"), "one2") == "one2")
      assert(c2.getOrElseUpdate((app, "A"), "two2") == "two2")
    } finally SessionCaches.invalidate(name, app)
  }

  test("no raw session-keyed TrieMap caches outside the documented " +
      "exemptions — new gates must register via SessionCaches") {
    // the tripwire that keeps the registry TOTAL: a future cache that
    // declares its own session-keyed TrieMap or ConcurrentHashMap instead
    // of SessionCaches.memo(...) silently escapes the bench replay's
    // invalidate-before-retime hook. The one exemption is q321's store
    // path, a side channel q322's reads fold over, not a memo.
    val exempt = Set("snapshotStatePath")
    val declPats = Seq(
      ("""(?s)val (\w+)(?::[^=]{0,120})? =\s*""" +
        """(?:scala\.collection\.concurrent\.)?TrieMap\s*""" +
        """\.empty\[\(String, String""").r,
      ("""(?s)(?:val|def) (\w+)(?:\(\))?(?::[^=]{0,120})? =\s*""" +
        """new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\b""").r)
    val offenders = Seq("queries", "ext")
      .flatMap(d => new java.io.File(s"src/main/scala/graft/$d").listFiles)
      .filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        declPats.flatMap(_.findAllMatchIn(txt).map(_.group(1)))
          .filterNot(exempt.contains)
          .map(n => s"${f.getName}:$n")
      }
    assert(offenders.isEmpty,
      s"raw session caches found (use SessionCaches.memo): " +
        offenders.mkString(", "))
  }

  // ---- tiering: missing-manifest guard --------------------------------

  test("readSegManifest: a MISSING manifest beside surviving segment " +
      "partitions fails loudly; plain batch partitions stay readable") {
    import spark.implicits._
    import graft.streaming.EventStream
    val root = TempDirs.create(spark, "r15_seg_guard")
    val store = root + "/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$store/batch=0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$store/batch=1")
    // never-tiered: no manifest, no segment partitions — plain read
    assert(EventStream.readTiered(spark, store).count() == 2)
    // a surviving SEGMENT partition (id < -1) without its manifest is an
    // externally-lost manifest: refusing loudly is the difference
    // between an exception and the GC sweep deleting live data
    Seq((3L, "c")).toDF("k", "v")
      .write.parquet(s"$store/batch=-1099511627776")
    val e = intercept[IllegalStateException] {
      EventStream.readTiered(spark, store).count()
    }
    assert(e.getMessage.contains("MISSING") &&
      e.getMessage.contains("segment"))
  }

  // ---- MJPEG-in-AVI ---------------------------------------------------

  test("encodeAviMjpeg -> decodeVideoFrames round trip: codec=mjpeg, " +
      "geometry, frame order, and band-exact thumbnails through the " +
      "REAL javax.imageio JPEG decode") {
    import graft.ext.Multimodal
    val frames = (0 until 3).map { f =>
      Multimodal.jpegFlatCells((cx, cy) => 32 * ((5 * cx + 3 * cy + f) % 7) + 16)
    }
    val avi = Multimodal.encodeAviMjpeg(32, 32, 40000, frames)
    // container sniffs as AVI like the DIB profile does
    val parsed = Multimodal.parseAviFrames(avi)
    assert(parsed.isDefined)
    val (w, h, us, codec, grays) = parsed.get
    assert(w == 32 && h == 32 && us == 40000 && codec == "mjpeg")
    assert(grays.size == 3)
    for (f <- 0 until 3; cy <- 0 until 4; cx <- 0 until 4) {
      val band = (5 * cx + 3 * cy + f) % 7
      val got = grays(f)(cy * 4 + cx)
      // lossy decode: within +-5 of the band center, so div-32 is exact
      assert(math.abs(got - (32L * band + 16L)) <= 5,
        s"f=$f cell=($cx,$cy) got=$got band=$band")
      assert(got / 32 == band)
    }
  }

  test("parseAviFrames: DIB frames yield exact flat-block thumbnails; " +
      "truncated and non-AVI payloads are DATA (None), and parseAvi's " +
      "DIB contract is unchanged") {
    import graft.ext.Multimodal
    val px = (0 until 3).map { f =>
      Array.tabulate(32 * 32) { i =>
        val g = (10 * ((i % 32) / 8) + 40 * ((i / 32) / 8) + 7 * f) % 256
        (g << 16) | (g << 8) | g
      }
    }
    val avi = Multimodal.encodeAvi(32, 32, 50000, px)
    val Some((w, h, us, codec, grays)) = Multimodal.parseAviFrames(avi)
    assert(w == 32 && h == 32 && us == 50000 && codec == "dib")
    for (f <- 0 until 3; cy <- 0 until 4; cx <- 0 until 4)
      assert(grays(f)(cy * 4 + cx) == (10 * cx + 40 * cy + 7 * f) % 256)
    // the original walker still parses the same bytes (q307's contract)
    assert(Multimodal.parseAvi(avi).exists(_._4 == 3L))
    // corrupt / truncated / foreign bytes: None, never an exception
    assert(Multimodal.parseAviFrames(avi.take(40)).isEmpty)
    assert(Multimodal.parseAviFrames("not an avi".getBytes).isEmpty)
    val mj = Multimodal.encodeAviMjpeg(32, 32, 40000,
      Seq(Multimodal.jpegFlatCells((_, _) => 100)))
    // parseAvi (exact-stats walker) correctly REJECTS compressed strf
    assert(Multimodal.parseAvi(mj).isEmpty)
    assert(Multimodal.parseAviFrames(mj).isDefined)
  }

  // ---- sorted_min_eq (q211's exactly-once emission kernel) -------------

  test("sorted_min_eq: first common element of sorted arrays, empty/" +
      "disjoint -> false, null -> null, interpreted == codegen") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      // (a, b, t, expected): first common is 5
      (Seq(1L, 5L, 9L), Seq(2L, 5L, 9L), 5L, Some(true)),
      (Seq(1L, 5L, 9L), Seq(2L, 5L, 9L), 9L, Some(false)),
      // common at the heads
      (Seq(3L, 7L), Seq(3L, 8L), 3L, Some(true)),
      // disjoint
      (Seq(1L, 2L), Seq(3L, 4L), 1L, Some(false)),
      // empty side
      (Seq.empty[Long], Seq(1L), 1L, Some(false)))
    val df = rows.map(r => (r._1, r._2, r._3)).toDF("a", "b", "t")
    val got = df.selectExpr("sorted_min_eq(a, b, t)").as[Boolean].collect()
    assert(got.toSeq == rows.map(_._4.get))
    // null propagates
    val n = spark.sql(
      "SELECT sorted_min_eq(CAST(NULL AS ARRAY<BIGINT>), array(1L), 1L)")
      .collect()(0)
    assert(n.isNullAt(0))
    // interpreted eval agrees with the codegen'd path
    val e = graft.functions.SortedMinEq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1L, 5L, 9L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(2L, 5L, 9L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal(5L))
    assert(e.eval(null) == true)
  }

  // ---- G.711 mu-law ----------------------------------------------------

  test("ulawDecodeClosedForm is bit-identical to the JDK's ULAW->PCM " +
      "codec for ALL 256 codewords (the q348 oracle's exactness premise)") {
    import graft.ext.Multimodal
    import javax.sound.sampled._
    val codes = Array.tabulate(256)(_.toByte)
    val wav = Multimodal.encodeWavUlaw(8000, codes)
    val ain = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ain.getFormat.getEncoding == AudioFormat.Encoding.ULAW)
    val pcm = AudioSystem.getAudioInputStream(
      new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false), ain)
    val raw = pcm.readAllBytes()
    assert(raw.length == 512)
    for (code <- 0 until 256) {
      val lo = java.lang.Byte.toUnsignedInt(raw(2 * code))
      val hi = java.lang.Byte.toUnsignedInt(raw(2 * code + 1))
      val jdk = ((hi << 8) | lo).toShort.toInt
      assert(jdk == Multimodal.ulawDecodeClosedForm(code),
        s"code=$code jdk=$jdk closed=${Multimodal.ulawDecodeClosedForm(code)}")
    }
  }

  test("alawDecodeClosedForm is bit-identical to the JDK's ALAW->PCM " +
      "codec for ALL 256 codewords, and decodeAudioCodec takes the " +
      "alaw branch") {
    import graft.ext.Multimodal
    import javax.sound.sampled._
    val codes = Array.tabulate(256)(_.toByte)
    val wav = Multimodal.encodeWavAlaw(8000, codes)
    val ain = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ain.getFormat.getEncoding == AudioFormat.Encoding.ALAW)
    val pcm = AudioSystem.getAudioInputStream(
      new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false), ain)
    val raw = pcm.readAllBytes()
    assert(raw.length == 512)
    for (code <- 0 until 256) {
      val lo = java.lang.Byte.toUnsignedInt(raw(2 * code))
      val hi = java.lang.Byte.toUnsignedInt(raw(2 * code + 1))
      val jdk = ((hi << 8) | lo).toShort.toInt
      assert(jdk == Multimodal.alawDecodeClosedForm(code),
        s"code=$code jdk=$jdk closed=${Multimodal.alawDecodeClosedForm(code)}")
    }
    import spark.implicits._
    val rows = Seq((1L, wav)).toDF("media_id", "payload")
    val out = Multimodal.decodeAudioCodec(rows, "media_id", "payload")
      .collect()(0)
    assert(out.getBoolean(1) && out.getString(2) == "alaw" &&
      out.getLong(4) == 256L)
    val expectSum = (0 until 256).map(c =>
      Multimodal.alawDecodeClosedForm(c).toLong).sum
    assert(out.getLong(7) == expectSum)
  }

  test("decodeAudioCodec: mixed pcm/ulaw corpus decodes with codec " +
      "labels; non-audio payloads are DATA (decodable=false)") {
    import spark.implicits._
    import graft.ext.Multimodal
    val rows = Seq(
      (1L, Multimodal.encodeWavUlaw(8000,
        Array.tabulate(16)(i => (i * 16).toByte))),
      (2L, "not audio at all".getBytes)).toDF("media_id", "payload")
    val out = Multimodal.decodeAudioCodec(rows, "media_id", "payload")
      .orderBy("media_id").collect()
    assert(out(0).getBoolean(1) && out(0).getString(2) == "ulaw" &&
      out(0).getLong(4) == 16L)
    val expectSum = (0 until 16).map(i =>
      Multimodal.ulawDecodeClosedForm(i * 16).toLong).sum
    assert(out(0).getLong(7) == expectSum)
    assert(!out(1).getBoolean(1) && out(1).getString(2) == "none")
  }

  // ---- q345 straggler bound -------------------------------------------

  test("q345: the hot key is >=500x the average cold key, and the salt " +
      "bounds the largest post-shuffle group to ~|HOT|/32") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val fact = Tables.lineitem(spark, sf)
      .select(
        when(pmod($"l_orderkey", lit(2L)) === 0L, lit("HOT"))
          .otherwise(concat(lit("k"),
            pmod($"l_orderkey", lit(2048L)).cast("string")))
          .as("skew_key"),
        pmod(graft.ext.TextAnalysis.hash60(
            ($"l_orderkey" * 8L + $"l_linenumber").cast("string")),
          lit(32L)).cast("int").as("salt"))
    val perKey = fact.groupBy($"skew_key").count().as[(String, Long)]
      .collect().toMap
    val hot = perKey("HOT")
    val cold = perKey.removed("HOT").values
    assert(hot >= 500L * (cold.sum / cold.size),
      s"fixture not skewed enough: hot=$hot avgCold=${cold.sum / cold.size}")
    // unsalted, the largest shuffle group is |HOT|; salted it is the
    // largest (key, salt) cell — bounded by ~|HOT|/32 (20% headroom for
    // hash variance). THIS is the straggler bound the pattern buys.
    val maxCell = fact.groupBy($"skew_key", $"salt").count()
      .agg(max($"count")).head.getLong(0)
    assert(maxCell <= (hot / 32) * 12 / 10,
      s"salt failed to spread: maxCell=$maxCell hot=$hot")
    assert(maxCell < hot / 16)
  }
}
