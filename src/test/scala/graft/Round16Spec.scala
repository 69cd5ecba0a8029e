package graft

import org.apache.spark.sql.functions._

/** Round-16 additions: the first-fold pre-commit crash window of the
  * tiering manifest guard (r15 ADVICE — the blanket missing-manifest
  * throw must not break the fold protocol's own crash-recovery), the
  * order-explicit q211 tok_id mint, and the A-law end-to-end audio gate.
  */
class Round16Spec extends SparkSpec {

  // segId mirror (EventStream.segId is private): level-1 id for a fold
  // whose newest covered batch is maxCovered
  private def seg1(maxCovered: Long): Long = -((1L << 40) | (maxCovered + 2))

  // ---- tiering: first-fold pre-commit crash window --------------------

  test("readSegManifest: the FIRST-ever fold's pre-commit orphan " +
      "(sole level-1 segment, members intact, no manifest) auto-recovers " +
      "— orphan deleted, raw rows read exactly once, refold succeeds") {
    import spark.implicits._
    import graft.streaming.EventStream
    val root = TempDirs.create(spark, "r16_first_fold_crash")
    val store = root + "/store"
    // four ledgered micro-batch partitions, one row each
    (0L to 3L).foreach { b =>
      Seq((b, s"v$b")).toDF("k", "v").write.parquet(s"$store/batch=$b")
    }
    // CRASH INJECTION at the fold protocol's first-fold window: the
    // level-1 segment over members {0,1} is fully written (same rows a
    // real fold would stage) but the manifest commit never ran — the
    // store has a segment partition and NO manifest file
    spark.read.parquet(store).where(col("batch").isin(0L, 1L))
      .drop("batch").coalesce(1)
      .write.parquet(s"$store/batch=${seg1(1L)}")
    // pre-r16 this threw IllegalStateException on every read, permanently
    // wedging the store; the discriminator (sole level-1 orphan with
    // batch=maxCovered present) now recovers: the orphan is invisible
    // AND deleted, so the plain no-manifest read cannot double-count
    val rows = EventStream.readTiered(spark, store)
      .select($"k").as[Long].collect().sorted
    assert(rows.sameElements(Array(0L, 1L, 2L, 3L)),
      s"expected exactly the 4 raw rows once, got ${rows.mkString(",")}")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/batch=${seg1(1L)}")), "pre-commit orphan must be deleted")
    // the deterministic re-run folds the same members cleanly
    EventStream.tierCompact(spark, store, done = Set(0L, 1L, 2L, 3L), k = 2)
    assert(EventStream.readSegManifest(spark, store).nonEmpty)
    val after = EventStream.readTiered(spark, store)
      .select($"k").as[Long].collect().sorted
    assert(after.sameElements(Array(0L, 1L, 2L, 3L)))
  }

  test("readSegManifest: missing manifest still fails loudly when the " +
      "orphan is NOT a first-fold pre-commit state") {
    import spark.implicits._
    import graft.streaming.EventStream
    val root = TempDirs.create(spark, "r16_seg_guard_neg")

    // (1) member GONE: segment covers up to batch 1 but batch=1 was GC'd
    // (the external-loss signature) — throw
    val s1 = root + "/gone"
    Seq((9L, "x")).toDF("k", "v").write.parquet(s"$s1/batch=2")
    Seq((0L, "a"), (1L, "b")).toDF("k", "v")
      .write.parquet(s"$s1/batch=${seg1(1L)}")
    val e1 = intercept[IllegalStateException] {
      EventStream.readTiered(spark, s1).count()
    }
    assert(e1.getMessage.contains("MISSING"))

    // (2) TWO orphan segments: a second fold implies the first committed
    // a manifest, so its absence is external loss — throw even though
    // members of the newest fold happen to be intact
    val s2 = root + "/two"
    (0L to 3L).foreach { b =>
      Seq((b, s"v$b")).toDF("k", "v").write.parquet(s"$s2/batch=$b")
    }
    Seq((0L, "a")).toDF("k", "v").write.parquet(s"$s2/batch=${seg1(1L)}")
    Seq((2L, "c")).toDF("k", "v").write.parquet(s"$s2/batch=${seg1(3L)}")
    val e2 = intercept[IllegalStateException] {
      EventStream.readTiered(spark, s2).count()
    }
    assert(e2.getMessage.contains("MISSING"))

    // (3) level >= 2 orphan: a cascade fold cannot precede the first
    // manifest commit — throw
    val s3 = root + "/lvl2"
    Seq((7L, "z")).toDF("k", "v").write.parquet(s"$s3/batch=7")
    Seq((0L, "a")).toDF("k", "v")
      .write.parquet(s"$s3/batch=${-((2L << 40) | (7L + 2L))}")
    val e3 = intercept[IllegalStateException] {
      EventStream.readTiered(spark, s3).count()
    }
    assert(e3.getMessage.contains("MISSING"))
  }

  // ---- capped-index fp maintainer: exact parity -----------------------

  test("fpDedupMaintainCapped == fpDedupMaintain verdict-for-verdict " +
      "under out-of-order arrival, heavy cap saturation, and a tiny " +
      "key space (both paths + same-batch pairs exercised)") {
    import spark.implicits._
    import graft.streaming.EventStream
    val root = TempDirs.create(spark, "r16_capfp_parity")
    // 90 docs, fpBits=8 => 2 bands x 16 keys = 32 buckets, so with
    // capC=2 most buckets saturate fast; fp formula plants near-dups
    // (id/3 groups share a base fp, perturbed by one low bit) and the
    // waves arrive OUT OF id ORDER (middle ids first) so the capped
    // member state must handle late-arriving LOW doc_ids
    def fpOf(id: Long): Long = ((id / 3) * 37 % 128) * 2 + (id % 3) % 2
    val waves = Seq(30L until 60L, 0L until 30L, 60L until 90L)
    def docStream(ddir: String) = spark.readStream
      .schema(spark.read.parquet(ddir).schema)
      .option("maxFilesPerTrigger", "1").parquet(ddir)
    def verdictMap(fin: org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Boolean, Option[Long], Option[Int])] =
      fin.collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Long]("batch_id"),
          r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("best_match")).map(_.toLong),
          Option(r.getAs[java.lang.Integer]("best_hamming"))
            .map(_.toInt)))
      }.toMap
    def run(tag: String, f: (org.apache.spark.sql.DataFrame, String,
        Option[String]) => org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Boolean, Option[Long], Option[Int])] = {
      val ddir = s"$root/$tag/docs"
      val st = s"$root/$tag/state"
      val cp = s"$root/$tag/cp"
      var fin: org.apache.spark.sql.DataFrame = null
      waves.foreach { w =>
        w.map(id => (id, fpOf(id))).toDF("doc_id", "fp")
          .coalesce(1).write.mode("append").parquet(ddir)
        fin = f(docStream(ddir), st, Some(cp))
      }
      verdictMap(fin)
    }
    val base = run("base", (d, st, cp) => EventStream.fpDedupMaintain(
      spark, d, st, radius = 2, fpBits = 8, tierK = 2, checkpoint = cp))
    val capped = run("capped", (d, st, cp) =>
      EventStream.fpDedupMaintainCapped(spark, d, st, radius = 2,
        fpBits = 8, capC = 2, tierK = 2, checkpoint = cp))
    assert(base.keySet == capped.keySet)
    val diffs = base.keys.filter(k => base(k) != capped(k)).toSeq.sorted
    assert(diffs.isEmpty, s"verdict mismatch for docs $diffs: " +
      diffs.take(3).map(k => s"$k base=${base(k)} capped=${capped(k)}")
        .mkString("; "))
    // the state the flat-cost claim rests on: capped index bounded by
    // keyspace*capC and genuinely saturated on this fixture
    val cells = spark.read.parquet(s"$root/capped/state/capcommit/cells")
    val perBucket = cells.groupBy($"band_id", $"band_key")
      .agg(count(lit(1)).as("members"), max($"bucket_n").as("n"))
      .collect()
    assert(perBucket.forall(_.getAs[Long]("members") <= 2),
      "capped index must keep <= capC members per bucket")
    assert(perBucket.exists(_.getAs[Long]("n") > 2),
      "fixture must saturate some bucket (fall-through path exercised)")
    assert(cells.count() <= 2L * 16 * 2,
      "capped index must stay within keyspace*capC")
    // full replay: the three landed waves again, over the same state,
    // through a FRESH source checkpoint — batch ids 0..2 re-present and
    // the atomic-commit ledger must skip every one (a re-merge would
    // double the sum-merged bucket counts)
    def cellRows(): Seq[String] = spark.read
      .parquet(s"$root/capped/state/capcommit/cells")
      .collect().map(_.toString).toSeq.sorted
    val cellsBefore = cellRows()
    val replayed = verdictMap(EventStream.fpDedupMaintainCapped(spark,
      docStream(s"$root/capped/docs"), s"$root/capped/state", radius = 2,
      fpBits = 8, capC = 2, tierK = 2,
      checkpoint = Some(s"$root/capped/cp_replay")))
    assert(cellRows() == cellsBefore,
      "replayed batches must not re-merge the capped index")
    assert(replayed == capped, "replay must leave the verdicts unchanged")
  }

  test("fpDedupMaintainCapped(fallThrough=false) is the pure q347 dial: " +
      "duplicates found are a subset of the exact maintainer's, every " +
      "reported match is a true radius-hit, and unsaturated buckets " +
      "still resolve identically") {
    import spark.implicits._
    import graft.streaming.EventStream
    val root = TempDirs.create(spark, "r16_capfp_nofall")
    def fpOf(id: Long): Long = ((id / 3) * 37 % 128) * 2 + (id % 3) % 2
    val waves = Seq(0L until 30L, 30L until 60L, 60L until 90L)
    def run(tag: String, ft: Boolean)
        : Map[Long, (Boolean, Option[Long], Option[Int])] = {
      val ddir = s"$root/$tag/docs"
      var fin: org.apache.spark.sql.DataFrame = null
      waves.foreach { w =>
        w.map(id => (id, fpOf(id))).toDF("doc_id", "fp")
          .coalesce(1).write.mode("append").parquet(ddir)
        fin = EventStream.fpDedupMaintainCapped(spark,
          spark.readStream.schema(spark.read.parquet(ddir).schema)
            .option("maxFilesPerTrigger", "1").parquet(ddir),
          s"$root/$tag/state", radius = 2, fpBits = 8, capC = 2,
          tierK = 0, checkpoint = Some(s"$root/$tag/cp"),
          fallThrough = ft)
      }
      fin.collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("best_match")).map(_.toLong),
          Option(r.getAs[java.lang.Integer]("best_hamming"))
            .map(_.toInt)))
      }.toMap
    }
    val exact = run("exact", ft = true)
    val nofall = run("nofall", ft = false)
    assert(exact.keySet == nofall.keySet)
    // the dial can only MISS (skip saturated-bucket candidates), never
    // invent: every nofall dup is an exact dup and its reported match is
    // a genuine radius hit (hamming of the claimed pair <= 2)
    nofall.foreach { case (id, (dup, m, h)) =>
      if (dup) {
        assert(exact(id)._1, s"doc $id: nofall dup but exact says unique")
        assert(m.exists(b =>
          java.lang.Long.bitCount(fpOf(id) ^ fpOf(b)) <= 2) &&
          h.exists(_ <= 2),
          s"doc $id: nofall reported a non-hit match $m")
      }
    }
    // bounded state, and the fixture genuinely saturates (so the dial's
    // skipped fall-through actually had something to skip)
    val cells = spark.read.parquet(s"$root/nofall/state/capcommit/cells")
    assert(cells.count() <= 2L * 16 * 2)
    assert(cells.where($"bucket_n" > 2).limit(1).count() == 1L,
      "fixture must saturate some bucket")
  }

  // ---- q211: order-explicit tok_id mint -------------------------------

  test("q211 tok_id mint: zipWithIndex over the sorted vocab gives ids " +
      "whose order equals the (df asc, tok asc) sort order") {
    import spark.implicits._
    // adversarial vocab: many partitions, ties in df broken by tok
    val tf = (0 until 500).flatMap { d =>
      (0 to d % 7).map(t => (d.toLong, s"tok_${"%03d".format(t)}"))
    }.toDF("doc_id", "tok").repartition(8)
    val dfSorted = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      .orderBy($"df".asc, $"tok".asc)
    val minted = spark.createDataFrame(
      dfSorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      dfSorted.schema.add("tok_id",
        org.apache.spark.sql.types.LongType, nullable = false))
    val rows = minted.collect().map(r =>
      (r.getAs[Long]("df"), r.getAs[String]("tok"), r.getAs[Long]("tok_id")))
    val bySort = rows.sortBy(r => (r._1, r._2)).map(_._3)
    val byId = rows.map(_._3).sorted
    assert(bySort.sameElements(byId),
      "tok_id rank must equal (df, tok) rank")
    assert(byId.sameElements(Array.tabulate(rows.length)(_.toLong)),
      "ids must be dense 0..V-1")
  }
}
