package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-side exact graph kernels behind the r17 ADAPTIVE engine
  * dispatch (the [[Dedup.connectedComponents]] pattern): when a
  * MATERIALIZED edge list measures at or under a cap, the per-round
  * distributed frontier loop (join + fold + localCheckpoint + fixpoint
  * probe per hop — each a multi-job round trip) is replaced by the same
  * algorithm run on collected rows; above the cap the caller's
  * distributed loop runs unchanged. This is runtime size-adaptive engine
  * selection — the decision AQE itself makes when it broadcasts a
  * measured-small join side — NOT a fixture shortcut: the inputs are
  * measured per run, the distributed loops stay the over-cap engine, and
  * Round17OptSpec pins kernel ≡ loop on adversarial graphs.
  *
  * Exactness: every kernel is pure integer arithmetic (hop counts,
  * 1e9-fixed-point weights) — the same longs the distributed loops and
  * the DuckDB oracles compute, in any order.
  */
object BoundedGraph {

  /** Default edge cap, shared with the CC dispatch: ~4 MB serialized. */
  val DriverCap: Int = Dedup.CCDriverCap

  /** Collect up to `cap` rows of an all-LongType frame; None when over
    * cap, non-long, or any null (the caller's distributed loop keeps its
    * legacy semantics for those). The frame must already be materialized
    * (localCheckpoint) — the probe is then a scan of cached blocks. The
    * one size-adaptive dispatch: the CC driver engine
    * ([[Dedup.connectedComponents]]) goes through it too.
    */
  private[ext] def collectLongs(df: DataFrame, cap: Int): Option[Array[Row]] = {
    if (cap <= 0) return None
    if (!df.schema.fields.forall(_.dataType == LongType)) return None
    // size probe FIRST (a bounded count — per-partition counts cross, no
    // rows): an over-cap edge list must not ship cap+1 rows to the driver
    // just to be discarded (measured ~+1 s on q313's corpus-proportional
    // pair list at gen-sf1)
    if (df.limit(cap + 1).count() > cap) return None
    val rows = df.limit(cap + 1).collect()
    if (rows.exists(r => (0 until r.length).exists(r.isNullAt))) None
    else Some(rows)
  }

  /** Multi-source BFS over an ALREADY-SYMMETRIZED (src, dst) edge list:
    * (vec_id, dist) for every node reached within `hops` of any seed,
    * dist = first-reach round — exactly q220's frontier loop. Seeds are
    * dist-0 rows (seed set membership is part of the result, matching
    * the loop's initial `visited`).
    */
  def bfsVisited(edges: DataFrame, seeds: DataFrame, hops: Int,
      cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(edges, cap).flatMap { es =>
      collectLongs(seeds, cap).map { ss =>
        val adj = es.groupBy(_.getLong(0))
          .map { case (k, v) => (k, v.map(_.getLong(1))) }
        val dist = scala.collection.mutable.Map.empty[Long, Int]
        ss.foreach(r => dist.getOrElseUpdate(r.getLong(0), 0))
        var frontier: Seq[Long] = dist.keys.toSeq
        var r = 1
        while (r <= hops && frontier.nonEmpty) {
          val next = frontier.iterator
            .flatMap(u => adj.getOrElse(u, Array.empty[Long]))
            .filter(v => !dist.contains(v)).toSet
          next.foreach(v => dist(v) = r)
          frontier = next.toSeq
          r += 1
        }
        val out = dist.toSeq.sortBy(_._1)
          .map { case (v, d) => Row(v, d) }
        edges.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(out).asJava),
          StructType(Seq(StructField("vec_id", LongType),
            StructField("dist", IntegerType))))
      }
    }

  /** Per-seed labeled BFS — q291's (seed, vec_id, dist) state: each seed
    * runs its own ego-BFS (seeds are a bounded entry-point set), reached
    * sets are per-seed independent.
    */
  def bfsVisitedPerSeed(edges: DataFrame, seeds: DataFrame, hops: Int,
      cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(edges, cap).flatMap { es =>
      collectLongs(seeds, cap).map { ss =>
        val adj = es.groupBy(_.getLong(0))
          .map { case (k, v) => (k, v.map(_.getLong(1))) }
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        ss.map(_.getLong(0)).distinct.sorted.foreach { seed =>
          val dist = scala.collection.mutable.Map[Long, Int](seed -> 0)
          var frontier: Seq[Long] = Seq(seed)
          var r = 1
          while (r <= hops && frontier.nonEmpty) {
            val next = frontier.iterator
              .flatMap(u => adj.getOrElse(u, Array.empty[Long]))
              .filter(v => !dist.contains(v)).toSet
            next.foreach(v => dist(v) = r)
            frontier = next.toSeq
            r += 1
          }
          dist.toSeq.sortBy(_._1).foreach { case (v, d) =>
            out += Row(seed, v, d)
          }
        }
        edges.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(out.toSeq).asJava),
          StructType(Seq(StructField("seed", LongType),
            StructField("vec_id", LongType),
            StructField("dist", IntegerType))))
      }
    }

  /** HITS hubs/authorities in integer fixed point — q205's sparse
    * half-steps: ra(dst) = Σ h(src); m = max(ra); a = ra div
    * (m div 1e6 + 1); symmetric for h. Absent scores are 0 (they
    * contribute nothing to the sums and can never be the max on a
    * non-empty edge list — the r16 sparse-iteration argument); every
    * endpoint node re-enters the result with its 0. All longs, all
    * positive, identical `div` truncation in both engines.
    */
  def hitsFixed(edges: DataFrame, rounds: Int,
      cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(edges, cap).map { es =>
      val e = es.map(r => (r.getLong(0), r.getLong(1)))
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
      var h = nodes.map(v => (v, 1000000L)).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to rounds) {
        // the sparse loop's inner join drops edges whose src has no h
        // row; replicate exactly: only src ∈ h contributes a join row
        val rawaJ = e.filter(x => h.contains(x._1)).groupBy(_._2)
          .map { case (dst, g) => dst -> g.map(x => h(x._1)).sum }
        val am = if (rawaJ.isEmpty) 0L else rawaJ.values.max
        a = rawaJ.map { case (v, ra) => v -> ra / (am / 1000000L + 1L) }
        val rawhJ = e.filter(x => a.contains(x._2)).groupBy(_._1)
          .map { case (src, g) => src -> g.map(x => a(x._2)).sum }
        val hm = if (rawhJ.isEmpty) 0L else rawhJ.values.max
        h = rawhJ.map { case (v, rh) => v -> rh / (hm / 1000000L + 1L) }
      }
      val out = nodes.map(v =>
        Row(v, a.getOrElse(v, 0L), h.getOrElse(v, 0L)))
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(out).asJava),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("a", LongType), StructField("h", LongType))))
    }

  /** Damped PageRank in 1e-9 fixed point — q171's sparse rounds over an
    * outdeg-annotated (src, dst, outdeg) edge list: round 1 seeds every
    * contribution at `seed div outdeg`; later rounds read the previous
    * keyed sums with absent nodes at the `teleport` constant (a node
    * with no in-edge holds teleport forever — the r16 coalesce
    * argument); pr = teleport + (85·Σ) div 100. Returns (vec_id, pr)
    * for EVERY endpoint node.
    */
  def pageRankFixed(ewd: DataFrame, rounds: Int, seed: Long,
      teleport: Long, cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(ewd, cap).map { es =>
      val e = es.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
      var pr = Map.empty[Long, Long]
      var absent = seed
      for (_ <- 1 to rounds) {
        val sc = e.groupBy(_._2).map { case (dst, g) =>
          dst -> g.map(x => pr.getOrElse(x._1, absent) / x._3).sum
        }
        pr = sc.map { case (v, s) => v -> (teleport + (85L * s) / 100L) }
        absent = teleport
      }
      val out = nodes.map(v => Row(v, pr.getOrElse(v, teleport)))
      ewd.sparkSession.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(out).asJava),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("pr", LongType))))
    }

  /** k-core peel — q214's rounds: drop nodes of degree < minDeg and
    * their edges until the edge set is stable; returns the surviving
    * node set. Pure integer degree counting; the fixpoint is observed,
    * not capped (peeling strictly shrinks, so it terminates).
    */
  def kcoreNodes(und: DataFrame, minDeg: Int,
      cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(und, cap).map { es =>
      var e = es.map(r => (r.getLong(0), r.getLong(1))).toSeq
      var stable = false
      while (!stable) {
        val deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
          .map { case (k, v) => (k, v.size) }
        val keep = deg.filter(_._2 >= minDeg).keySet
        val e2 = e.filter(x => keep(x._1) && keep(x._2))
        stable = e2.size == e.size
        e = e2
      }
      val out = (e.map(_._1) ++ e.map(_._2)).distinct.sorted.map(Row(_))
      und.sparkSession.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(out).asJava),
        StructType(Seq(StructField("vec_id", LongType))))
    }

  /** Hop-bounded Bellman-Ford — q249's full-relax rounds: after round r,
    * cost(v) = min total weight over paths of ≤ r edges from any seed.
    * Edge rows are (src, dst, w) longs; exactly `rounds` full relaxes
    * (not early-exit: the loop's round count is part of the contract,
    * though extra relaxes past the fixpoint are no-ops either way).
    */
  def bellmanFord(weightedEdges: DataFrame, seeds: DataFrame, rounds: Int,
      cap: Int = DriverCap): Option[DataFrame] =
    collectLongs(weightedEdges, cap).flatMap { es =>
      collectLongs(seeds, cap).map { ss =>
        var d = scala.collection.immutable.Map.empty[Long, Long]
        ss.foreach(r => d += (r.getLong(0) -> 0L))
        for (_ <- 1 to rounds) {
          var nd = d
          es.foreach { e =>
            val (u, v, w) = (e.getLong(0), e.getLong(1), e.getLong(2))
            d.get(u).foreach { cu =>
              val c = cu + w
              if (nd.get(v).forall(c < _)) nd += (v -> c)
            }
          }
          d = nd
        }
        val out = d.toSeq.sortBy(_._1).map { case (v, c) => Row(v, c) }
        weightedEdges.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(out).asJava),
          StructType(Seq(StructField("vec_id", LongType),
            StructField("cost", LongType))))
      }
    }
}
