package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Near-duplicate detection for document corpora.
  *
  * Scale design (100 TB):
  * - exact dedup = one shuffle on a content hash (see TextQueries q34);
  * - n-gram Jaccard is exact but pairwise, so it only runs inside explicit
  *   blocks (here: `source`) — never globally;
  * - MinHash+LSH is the global path: fixed-size signatures (one narrow
  *   pass), band keys, equi-join on (band, key) so candidate generation is
  *   a plain shuffle join, then exact Jaccard verification only on the
  *   tiny candidate set;
  * - SimHash gives a 32-bit signature whose equality (or low Hamming
  *   distance over banded substrings) is the candidate filter.
  */
object Dedup {
  val NumHashes = 32
  val BandRows = 4 // 8 bands x 4 rows: P(candidate) = 1-(1-j^4)^8
  def numBands: Int = NumHashes / BandRows

  /** doc_id + distinct word-3-shingles, the shared substrate. Tokens are
    * materialized into a column before shingling so the text is split once
    * per row, not once per element_at reference.
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_w"))
      .select(col(idCol),
        explode(TextAnalysis.shinglesFromTokens(col("_w"))).as("shingle"))

  /** (id, h) with h = 60-bit md5 hash of each distinct shingle. All
    * downstream work (minhash, sizes, intersections) runs on the 8-byte
    * hash, never the shingle string: narrower shuffles, cheaper compares.
    * DISTINCT is taken AFTER hashing so an (astronomically unlikely) md5
    * collision folds identically in Spark and the DuckDB oracle.
    */
  def hashedShingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleRows(docs, idCol, textCol)
      .select(col(idCol),
        TextAnalysis.hash60Fast(docs.sparkSession, col("shingle")).as("h"))
      .distinct()

  /** Mersenne prime 2^31-1: with a,b,h' < 2^31 every product stays below
    * 2^63, so the whole permutation runs in codegen'd long arithmetic — no
    * decimal, no overflow, identical in any engine with 64-bit ints.
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic permutation constants, derived once driver-side from the
    * same md5 scheme both engines share; interpolated as literals into the
    * oracle SQL so the two computations are identical.
    */
  def permA(i: Int): Long = (TextAnalysis.hash60Java(s"a$i") % (MinhashP - 1)) + 1
  def permB(i: Int): Long = TextAnalysis.hash60Java(s"b$i") % MinhashP

  /** One minhash column per permutation: the pre-hashed shingle rows of
    * [[hashedShingleRows]] reduced mod p, then 32 cheap linear permutations
    * (a*h'+b) mod p in plain long arithmetic. A single groupBy with 32
    * min-aggregates — no row explosion, no per-seed rehashing: signature
    * generation stays one narrow codegen'd pass at 100 TB.
    */
  def minhashSignatures(hashedShingles: DataFrame, idCol: String): DataFrame = {
    val hashed = hashedShingles.select(col(idCol), (col("h") % MinhashP).as("_h"))
    val aggs = (0 until NumHashes).map { i =>
      min((lit(permA(i)) * col("_h") + lit(permB(i))) % MinhashP).as(s"mh$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] via the single TypedImperativeAggregate
    * ([[graft.functions.MinHashSig]]): one array<long> buffer per doc,
    * K mulmods per row in one JVM loop instead of K codegen'd min columns.
    * Same signatures bit-for-bit; preferable when K is large (128-256).
    * Output schema matches [[minhashSignatures]] (mh0..mhK-1 columns).
    */
  def minhashSignaturesAgg(hashedShingles: DataFrame, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(hashedShingles.sparkSession)
    val sig = hashedShingles.groupBy(col(idCol))
      .agg(call_function("minhash_sig", col("h")).as("_sig"))
    val cols = (0 until NumHashes).map(i => col("_sig").getItem(i).as(s"mh$i"))
    sig.select(col(idCol) +: cols: _*)
  }

  /** (id, band_id, band_key) rows: band_key = comma-joined run of
    * [[BandRows]] minhashes. 4 rows per doc with 8 bands.
    */
  def bandRows(sigs: DataFrame, idCol: String): DataFrame = {
    val bandKeys = (0 until numBands).map { b =>
      val cols = (0 until BandRows).map(r => col(s"mh${b * BandRows + r}").cast("string"))
      struct(lit(b).as("band_id"), concat_ws(",", cols: _*).as("band_key"))
    }
    sigs.select(col(idCol), explode(array(bandKeys: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_key"))
  }

  /** Distinct candidate pairs from any shared LSH band: an equi-join of the
    * band rows against themselves on (band_id, band_key) — the LSH
    * bucketing itself IS the join key, so at any scale this is a plain
    * keyed shuffle (or a runtime broadcast when AQE measures the side as
    * small). Deliberately NO `broadcast()` hint: the side is
    * corpus-proportional (numBands rows per doc) and a hard hint never
    * falls back — Spark would try to collect the whole corpus's bands to
    * the driver. Size-based planning / AQE picks broadcast exactly when
    * it's actually safe.
    *
    * `maxBandBucket` is the skew guard PLANS.md names: a band bucket of
    * size n contributes n² join rows, and real corpora have degenerate
    * buckets (e.g. every empty/near-empty doc shares one signature), so
    * one hot key can dwarf the rest of the stage combined. Buckets above
    * the cap are EXCLUDED from candidate generation (documented recall
    * trade: members of a degenerate bucket still pair through their other
    * `numBands - 1` bands when genuinely similar). The size filter is one
    * extra keyed agg over the band rows — partial-agg map-side, so the hot
    * key never concentrates on one task.
    */
  def candidatePairs(bands: DataFrame, idCol: String,
      maxBandBucket: Int = 100000): DataFrame = {
    // r16: materialize the capped band rows ONCE — the self-join aliases
    // this frame on both sides and an unshared subtree is evaluated per
    // side, so the cap agg + corpus-band join ran twice. The checkpoint
    // holds only the COLLIDING buckets (a small corpus fraction), and
    // the cap agg stays the partial-agg'd map-side count — the skew
    // posture is unchanged. PlanShapeSpec pins the cap on
    // [[cappedBandRows]]' plan (the checkpoint hides it here).
    // MEMORY_AND_DISK_SER (r16 ADVICE): colliding-bucket rows are
    // corpus-proportional in duplicate-heavy corpora — the serialized
    // posture every corpus-proportional checkpoint in this repo uses
    // (deserialized unroll OOM'd the 8 GiB heap at gen-sf10, q284 notes).
    val capped = cappedBandRows(bands, maxBandBucket).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val a = capped.select(col(idCol).as("doc_a"), col("band_id"), col("band_key"))
    val b = capped.select(col(idCol).as("doc_b"), col("band_id"), col("band_key"))
    a.join(b, Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The pre-checkpoint capped-band-rows plan [[candidatePairs]] and
    * [[deltaCandidatePairs]] ride:
    * bucket_n >= 2 drops singleton buckets (the vast majority of band
    * keys in a real corpus — they can never produce a pair) in the same
    * partial-agg'd count that enforces the skew cap, shrinking the
    * self-join input to just the colliding buckets.
    */
  private[graft] def cappedBandRows(bands: DataFrame,
      maxBandBucket: Int): DataFrame = {
    val keep = bands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBandBucket && col("bucket_n") >= 2)
      .select(col("band_id"), col("band_key"))
    bands.join(keep, Seq("band_id", "band_key"))
  }

  /** The two LSH bands of a fingerprint of at most `2 * loBits` bits:
    * band 0 keys on its low `loBits` bits, band 1 on the bits above. A
    * generator: the caller names its (band, key) columns, e.g.
    * `fpBands(col("fp"), 12).as(Seq("band_id", "band_key"))`. Shared by
    * the fingerprint maintainers and the q308–q313 family.
    */
  private[graft] def fpBands(fp: Column, loBits: Int): Column =
    posexplode(array((fp % (1L << loBits)).cast("long"),
      shiftright(fp, loBits).cast("long")))

  /** Delta-oriented candidate pairs over band rows `(idCol, band_id,
    * band_key, …)`: each delta row (`isDelta`) meets every other row of
    * its [[cappedBandRows]] buckets that is not a delta row of larger or
    * equal id, i.e. `doc_b ≠ doc_a ∧ (¬delta_b ∨ doc_b < doc_a)`. Pairs
    * against the old rows are oriented delta → old and same-delta pairs
    * `doc_b < doc_a`, so each is examined once and the old × old pair
    * space is never formed. The `carry` columns ride along as `<c>_a` and
    * `<c>_b`. One row per shared bucket (the caller takes the distinct
    * pairs), with `doc_a`, `doc_b`, the carried columns, the band key and
    * `_delta_b`. Shared by q88 and the two uncapped dedup maintainers.
    */
  private[graft] def deltaCandidatePairs(bands: DataFrame, idCol: String,
      isDelta: Column, maxBandBucket: Int, carry: String*): DataFrame = {
    val capped = cappedBandRows(bands, maxBandBucket)
    def side(s: String): Seq[Column] = col(idCol).as(s"doc_$s") +:
      carry.map(c => col(c).as(s"${c}_$s"))
    val a = capped.where(isDelta)
      .select(side("a") :+ col("band_id") :+ col("band_key"): _*)
    val b = capped.select(side("b") ++
      Seq(isDelta.as("_delta_b"), col("band_id"), col("band_key")): _*)
    a.join(b, Seq("band_id", "band_key"))
      .where(col("doc_b") =!= col("doc_a") &&
        (!col("_delta_b") || col("doc_b") < col("doc_a")))
  }

  /** The best-match verdict of every delta doc. `scored` holds its
    * verified pairs `(doc_a, doc_b, <score>)`; per `doc_a` the pair of
    * highest `rank` wins, ties to the smallest `doc_b`. Every row of
    * `deltaIds` (one id column) comes back as `(id, is_dup, best_match,
    * best_<score>)`, with `is_dup = best_match IS NOT NULL`. The caller
    * picks the order: `col("jaccard")` keeps the most similar pair,
    * `-col("hamming")` the nearest. Shared by q88, q312 and the three
    * dedup maintainers.
    */
  private[graft] def bestMatchVerdicts(deltaIds: DataFrame,
      scored: DataFrame, score: String, rank: Column): DataFrame = {
    val id = deltaIds.columns.head
    val best = scored.groupBy(col("doc_a"))
      .agg(max_by(struct(col(score), col("doc_b")),
        struct(rank, -col("doc_b"))).as("bm"))
      .select(col("doc_a"), col("bm.doc_b").as("best_match"),
        col(s"bm.$score").as(s"best_$score"))
    deltaIds.join(best, col(id) === col("doc_a"), "left")
      .select(col(id), col("best_match").isNotNull.as("is_dup"),
        col("best_match"), col(s"best_$score"))
  }

  /** The 100 TB layout for the ACCUMULATED band index that
    * [[graft.streaming.EventStream.dedupMaintain]]'s scaladoc promises,
    * made executable: the corpus band rows land ONCE as a table BUCKETED
    * (and sorted) on the candidate-join key (band_id, band_key). Every
    * subsequent delta probe ([[deltaCandidatesAgainstIndex]]) then scans
    * the index's buckets IN PLACE — the corpus-sized side never shuffles
    * again; only the batch-sized delta pays an Exchange. The bucket-cap
    * agg rides the same layout for free (its group key IS the bucketing
    * key, so the partial→final agg needs no Exchange either).
    * PlanShapeSpec pins both properties. Returns the table name.
    */
  def writeBandIndexBucketed(bands: DataFrame, tag: String,
      buckets: Int = 8): String = {
    val s = bands.sparkSession
    val tbl = s"graft_band_idx_$tag"
    val wh = s.conf.get("spark.sql.warehouse.dir")
    bands.write.mode("overwrite")
      .bucketBy(buckets, "band_id", "band_key")
      .sortBy("band_id", "band_key")
      .option("path", s"$wh/graft_bucketed/$tbl")
      .saveAsTable(tbl)
    tbl
  }

  /** Deletion propagation for the SERVED band index — the q325
    * compliance sweep extended to q88/q312's serving layout: a
    * right-to-be-forgotten list must vanish from the index a delta-dedup
    * probe reads, not just from the corpus tables. The tombstone side is
    * compliance-list sized, so it broadcasts onto a LEFT-ANTI over the
    * bucketed scan — the index never shuffles — and the survivors land
    * as a NEW bucketed generation (same swap discipline as serving
    * tables; readers flip to the returned name). Exact by per-doc
    * independence: a doc's shingles/signature/bands depend only on its
    * own text, so scrub(index, T) ≡ build(corpus ∖ T) row for row —
    * q331 gates that equality.
    */
  def scrubBandIndex(indexTable: String, tombstones: DataFrame,
      idCol: String, tag: String, buckets: Int = 8,
      broadcastKeyLimit: Long = 4000000L): String = {
    // materialize the list once: the size gate AND the anti-join read
    // it, and a purge list derived from a corpus-scale join must not
    // recompute its lineage twice
    val t = tombstones.select(col(idCol)).localCheckpoint()
    writeBandIndexBucketed(
      scrubBandIndexPlan(indexTable, t, idCol,
        forceBroadcast = t.count() <= broadcastKeyLimit), tag, buckets)
  }

  /** The frame [[scrubBandIndex]] lands — exposed so PlanShapeSpec can
    * pin its shape: a broadcast LEFT-ANTI of the tombstone list onto
    * the bucketed scan, ZERO ShuffleExchange anywhere (the index side
    * never moves; at 100 TB the rewrite is a parallel scan+filter+write,
    * never a shuffle). The broadcast is only FORCED while the list is
    * broadcast-sized — a compliance list is by nature, but a bulk purge
    * (a whole source decommissioned) can be corpus-scale, and
    * broadcasting that would blow the driver; above the threshold the
    * anti-join falls back to a plain (shuffled) join — same rows, one
    * key-bearing Exchange, the right trade for a purge that is itself a
    * large fraction of the index (the [[graft.streaming.EventStream]]
    * priorState fallback pattern). The size decision lives in the
    * WRAPPER (one count over the materialized list); this plan builder
    * takes it as a flag so constructing the plan never runs a job.
    */
  private[graft] def scrubBandIndexPlan(indexTable: String,
      tombstones: DataFrame, idCol: String,
      forceBroadcast: Boolean = true): DataFrame = {
    val s = tombstones.sparkSession
    val t = tombstones.select(col(idCol))
    val side = if (forceBroadcast) broadcast(t) else t
    s.table(indexTable).join(side, Seq(idCol), "left_anti")
  }

  /** Delta-vs-index candidate generation over a
    * [[writeBandIndexBucketed]] table: the incremental-dedup read path
    * (new crawl batch against the accumulated corpus) with
    * [[candidatePairs]]'s skew cap applied to the INDEX side's bucket
    * counts. The index is scanned twice (cap agg + probe join), both
    * times through its bucketed layout with zero Exchange; the merge
    * hint keeps the fixture-scale plan the same SMJ shape the 100 TB
    * plan has (a broadcast delta would be fine too — the pinned property
    * is that the INDEX side never shuffles). Returns (doc_a = delta id,
    * doc_b = index id) distinct candidate pairs.
    */
  def deltaCandidatesAgainstIndex(indexTable: String, deltaBands: DataFrame,
      idCol: String, maxBandBucket: Int = 100000): DataFrame = {
    val s = deltaBands.sparkSession
    val idx = s.table(indexTable)
    val keep = idx.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBandBucket)
      .select(col("band_id"), col("band_key"))
    val capped = idx.join(keep, Seq("band_id", "band_key")).hint("merge")
      .select(col(idCol).as("doc_b"), col("band_id"), col("band_key"))
    deltaBands.select(col(idCol).as("doc_a"), col("band_id"), col("band_key"))
      .join(capped, Seq("band_id", "band_key"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact Jaccard for given (doc_a, doc_b) pairs over the hashed-shingle
    * substrate. Pairs-first join order: broadcast the (tiny) candidate set
    * onto the a-side shingles, then equi-join the b-side on (doc_b, h).
    * Work is O(|pairs| × shingles-per-doc) — NEVER a shingle-frequency
    * self-join, so a globally common shingle cannot blow up the plan.
    */
  def jaccardFor(pairs: DataFrame, hashedShingles: DataFrame, idCol: String): DataFrame =
    overlapFor(pairs, hashedShingles, idCol)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))

  /** Shingle-overlap counts for given (doc_a, doc_b) pairs:
    * `(doc_a, doc_b, n_inter, n_a, n_b)` — the shared substrate under
    * Jaccard (symmetric) and containment (asymmetric) verification.
    */
  def overlapFor(pairs: DataFrame, hashedShingles: DataFrame, idCol: String): DataFrame = {
    val sizes = hashedShingles.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val sa = hashedShingles.select(col(idCol).as("doc_a"), col("h"))
    val sb = hashedShingles.select(col(idCol).as("doc_b"), col("h"))
    // Work is bounded by |pairs| x shingles-per-doc, but every side here
    // (pairs, the expansion, per-doc sizes) is corpus-proportional, so none
    // carries a hard broadcast() hint — a hint never falls back by size,
    // it collects the side to the driver regardless. AQE's runtime stats
    // turn these into broadcast joins whenever the candidate set really is
    // small; otherwise they are keyed shuffles on (doc, h) / (doc_a, doc_b),
    // which is the correct 100 TB shape.
    val expanded = sa.join(pairs, Seq("doc_a"))
    val inter = sb.join(expanded, Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("n_shingles").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n_shingles").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /** Connected components over an undirected pair list: every node gets
    * `cluster_id` = the smallest node id reachable from it. Min-label
    * propagation — each round joins current labels across edges, takes the
    * elementwise min, and checkpoints (the iterative-algorithm pattern:
    * lineage must be cut per round or the plan doubles). Converges in
    * O(diameter) rounds; near-dup clusters are shallow, so this terminates
    * in 2-4 rounds in practice. The monotone label sum is the fixpoint
    * test — one cheap scalar agg per round instead of a full join-compare.
    * At 100 TB-scale graphs the upgrade is the large-star/small-star
    * two-phase algorithm (Kiveris et al., "Connected Components in
    * MapReduce"), which bounds rounds to O(log n) on skewed degree
    * distributions; the label-propagation loop below is the right shape for
    * dedup graphs, whose components are tiny by construction.
    *
    * r17: edge lists at or under [[CCDriverCap]] (measured per run on the
    * materialized frame, never assumed) dispatch to the driver union-find
    * instead — identical labels, zero per-round distributed fixed cost.
    *
    * `maxRounds` limits only the distributed engine: the driver
    * union-find has no rounds and never throws the round-cap exception.
    * A caller that wants that exception on a deep graph passes
    * `driverCap = 0`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20, driverCap: Int = CCDriverCap): DataFrame = {
    // materialize the pair source ONCE: both edge directions (and every
    // propagation round) would otherwise re-run the upstream plan — for
    // near-dup inputs that plan is an expensive similarity join
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    // r17 adaptive engine selection (the scrubBandIndex broadcast-gate
    // posture applied to CC): the edge list is already materialized, so
    // ONE bounded collect decides — at or under the cap the driver
    // union-find replaces the whole per-round join/agg/checkpoint/probe
    // loop (labels provably identical, Round16OptSpec/Round17OptSpec);
    // above it (or on non-long/null ids) the distributed loop below runs
    // unchanged. At 100 TB a real dup graph takes the distributed path;
    // the adaptive probe costs one scan of checkpointed blocks.
    ccDriverAttempt(fwd, driverCap) match {
      case Some(labels) => return labels
      case None => ()
    }
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")).localCheckpoint()
    // decimal sum: long-sum overflow on billion-scale node ids could alias
    // two different label states and end the loop early
    // Option guard: SUM over an EMPTY label table is NULL (legitimate —
    // a caller's pair set can be empty, e.g. no rare-part links at tiny
    // scale); treat it as zero so the loop converges to an empty result
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster_id").cast(DecimalType(38, 0))))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var lastSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      labels = labels.union(prop)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint()
      val s = labelSum(labels)
      // labels only decrease: equal sum = fixpoint
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      round += 1
    }
    // exiting via the round cap without the fixpoint means the labels are
    // WRONG (some component is only partially merged) — fail loudly rather
    // than return silently-incorrect cluster ids; components deeper than
    // the cap should route through [[connectedComponentsStar]]
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "component diameter exceeds the cap; use connectedComponentsStar")
    labels
  }

  /** Connected components for a PROVABLY BOUNDED edge list (r16): callers
    * whose pair set is capped by construction (q284's top-100 links — a
    * LIMIT in the plan, not a hope) were paying the full distributed
    * label-propagation loop — measured 5.4 s of per-round join/checkpoint/
    * fixpoint-probe fixed cost at sf0.1 on exactly 100 edges, and the same
    * constant cost at ANY corpus size since the input is cap-bounded.
    * Below the cap the right engine is none at all: collect the ≤cap
    * edges (the control-plane-bounded posture of the 25-row nation fixture
    * and the constant-50 MMR pool), run union-find with min-label roots on
    * the driver, and hand back a 2-column frame. Labels are IDENTICAL to
    * [[connectedComponents]] — every node maps to the smallest reachable
    * node id (Round16OptSpec pins equality on adversarial graphs).
    * `require`s the bound so an uncapped caller fails loudly instead of
    * collecting a corpus.
    */
  def connectedComponentsBounded(pairs: DataFrame, aCol: String,
      bCol: String, cap: Int): DataFrame = {
    val s = pairs.sparkSession
    val edges = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .limit(cap + 1).collect()
    require(edges.length <= cap,
      s"connectedComponentsBounded: edge list exceeds cap=$cap — " +
        "use connectedComponents/connectedComponentsStar")
    driverUnionFind(s, edges)
  }

  /** Edge-count cap for [[connectedComponents]]/[[connectedComponentsStar]]'s
    * adaptive driver-side engine: 2^18 edges of two longs is ~4 MB
    * serialized — the same order as Spark's own broadcast-collect
    * decisions and far under `spark.driver.maxResultSize`. Above the cap
    * the distributed loops run exactly as before; the cap is a dial, not
    * a correctness bound (labels are identical on both engines).
    */
  val CCDriverCap: Int = 1 << 18

  /** Min-label union-find over a collected edge list — the shared driver
    * kernel of [[connectedComponentsBounded]] and the adaptive dispatch in
    * [[connectedComponents]]/[[connectedComponentsStar]]. Null ids are
    * refused loudly (r16 ADVICE: Row.getLong on a null id threw an opaque
    * driver NPE; the distributed variants never see the null because join
    * keys drop it — callers feed non-null ids by construction, so this is
    * a contract check, not a data path).
    */
  private def driverUnionFind(s: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    require(!edges.exists(e => e.isNullAt(0) || e.isNullAt(1)),
      "driver-side connected components: null node id in the edge list — " +
        "filter nulls out (or fix the upstream join) before clustering")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // min-label union: the smaller root wins, so every component's root
      // is its minimum node id — connectedComponents' exact fixpoint
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    import s.implicits._
    labels.toDF("id", "cluster_id")
  }

  /** The adaptive probe both CC variants share: the size-adaptive
    * dispatch's bounded collect ([[BoundedGraph.collectLongs]]) of the
    * ALREADY-CHECKPOINTED edge frame, then the driver union-find; None
    * signals the caller to run its distributed loop. `driverCap <= 0`
    * disables the dispatch (tests pin the distributed engines through
    * it).
    */
  private def ccDriverAttempt(fwd: DataFrame,
      driverCap: Int): Option[DataFrame] =
    BoundedGraph.collectLongs(fwd, driverCap)
      .map(driverUnionFind(fwd.sparkSession, _))

  /** Skew-and-diameter-safe connected components: alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SOCC'14). Each round rewires edges toward the
    * current per-node minimum neighbor, which contracts long paths and
    * high-degree stars in O(log^2 n) rounds — label propagation above needs
    * O(diameter) rounds and one straggler task per mega-component, so this
    * is the variant for adversarial graphs.
    *
    * large-star: each undirected edge {a,b}, seen from its smaller endpoint
    * u (so v > u), is replaced by (v, m(u)) where m(u) = min of u's
    * neighborhood including u. small-star: each edge keyed by its LARGER
    * endpoint u re-links u and all its smaller neighbors to m(u). Each is a
    * groupBy(min) + join per round. Fixpoint = the canonical (max,min) edge
    * set stops changing, detected by (count, xxhash64 checksum-sum) — a
    * collision would need two distinct edge sets with equal counts AND
    * equal 64-bit hash sums within one run.
    *
    * As in [[connectedComponents]], `maxRounds` limits only the
    * distributed engine; at or under `driverCap` edges the driver
    * union-find answers and the round-cap exception cannot fire. Callers
    * that want it pass `driverCap = 0`.
    * [[graft.streaming.EventStream.ccMaintain]] calls this with the
    * defaults.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50, driverCap: Int = CCDriverCap): DataFrame = {
    val fwd = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v")).localCheckpoint()
    // r17 adaptive engine selection — see [[connectedComponents]]. The
    // self-loop filter above already matches star's output contract
    // (self-loop-only nodes never appear), so the driver union-find over
    // `fwd` is label-identical to the contraction loop below.
    ccDriverAttempt(fwd, driverCap) match {
      case Some(labels) => return labels
      case None => ()
    }
    val nodes = fwd.select(col("u")).union(fwd.select(col("v").as("u")))
      .distinct().localCheckpoint()
    // canonical undirected form: u = max endpoint, v = min endpoint
    def canon(df: DataFrame): DataFrame = df.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    var edges = canon(fwd).localCheckpoint()
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var last = checksum(edges)
    var round = 0
    var converged = last._1 == 0L // edgeless input is already a fixpoint
    while (!converged && round < maxRounds) {
      // ── large-star: symmetrize, group by u, attach each v > u to m(u)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = canon(
        sym.join(mL, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))).localCheckpoint()
      // ── small-star: key = larger endpoint; re-link u and all its smaller
      //    neighbors to the minimum of that neighborhood
      val mS = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val j = afterLarge.join(mS, "u")
      val afterSmall = canon(
        j.select(col("v").as("u"), col("m").as("v"))
          .union(mS.select(col("u"), col("m").as("v")))).localCheckpoint()
      edges = afterSmall
      val s = checksum(edges)
      converged = s._1 == last._1 && s._2.compareTo(last._2) == 0
      last = s
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds")
    // fixpoint edges form stars: (member, component-min). Roots (and any
    // node never re-linked below another) label themselves.
    val members = edges.select(col("u").as("id"), col("v").as("cluster_id"))
    val roots = nodes.join(members, nodes("u") === members("id"), "left_anti")
      .select(col("u").as("id"), col("u").as("cluster_id"))
    members.union(roots)
  }

  /** Passage-level duplication stats (q70 — the C4/RefinedWeb repeated-
    * passage filter at sub-document granularity): documents split into
    * non-overlapping `chunkWords`-word chunks; a chunk instance counts as
    * duplicated when its 60-bit hash occurs in MORE THAN ONE distinct
    * document. Returns one row per input doc:
    * (idCol, n_chunks, n_dup_chunks, dup_frac).
    *
    * Scale shape: one bounded explode (tokens/chunkWords rows,
    * checkpointed — it feeds the multi-doc count AND the join back), one
    * keyed two-phase distinct-doc count per hash, one keyed join back —
    * never pairwise.
    */
  def passageDupStats(docs: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 8): DataFrame = {
    val s = docs.sparkSession
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("w"))
    // stride positions 1, 1+cw, … — complete chunks only (the ragged tail
    // carries no repeatable passage); sequence() errors on stop < start,
    // so short docs are guarded out and re-enter with zero chunks below
    val ch = toks.where(size(col("w")) >= chunkWords)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("w")) - (chunkWords - 1),
          lit(chunkWords))).as("i"), col("w"))
      .select(col(idCol),
        TextAnalysis.hash60Fast(s,
          concat_ws(" ", slice(col("w"), col("i"), lit(chunkWords)))).as("h"))
      .localCheckpoint()
    val multi = ch.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
    val per = ch.join(multi, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_chunks", "n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        round(when(col("n_chunks") > 0,
          col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .otherwise(0.0), 9).as("dup_frac"))
  }

  /** Cross-document duplicated-SPAN coverage — the exact-substring-dedup
    * signal (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499) at word granularity: every
    * OVERLAPPING `spanWords`-word window (stride 1, unlike
    * [[passageDupStats]]' disjoint chunks) is hashed; a window instance is
    * duplicated when its hash occurs in more than one distinct document;
    * each doc's duplicated windows become token intervals [i, i+spanWords)
    * whose UNION (classic sort + running-max-end interval merge, computed
    * with per-doc windows — no global sort) yields the covered-token count.
    * Returns (idCol, n_tokens, n_dup_spans, n_dup_tokens, dup_coverage)
    * where n_dup_spans counts MERGED maximal runs.
    *
    * Scale shape: one bounded explode (≈ tokens rows) feeding the
    * multi-doc count AND the join back, one keyed two-phase distinct-doc
    * count per hash, one keyed join back, and per-doc window functions
    * whose partitions are document-sized. The window substrate is NOT
    * checkpointed: recomputing the narrow hash pass for its two consumers
    * measured 6× cheaper than materializing it (0.46s vs 2.76s at sf0.1 —
    * the q68 lesson; contrast q70's stride-8 substrate, where the
    * checkpoint wins). Adjacent runs merge (prev_end == start): coverage
    * counts tokens, and two abutting duplicated windows cover a
    * contiguous token run.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("w"))
    val sh = toks.where(size(col("w")) >= spanWords)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("w")) - (spanWords - 1), lit(1)))
          .as("i"),
        col("w"))
      .select(col(idCol), col("i"),
        TextAnalysis.hash60Fast(s,
          concat_ws(" ", slice(col("w"), col("i"), lit(spanWords)))).as("h"))
    val multi = sh.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") > 1)
    val sp = sh.join(multi, "h")
      .select(col(idCol), col("i").as("start"),
        (col("i") + spanWords).as("end"))
    // interval union: a span opens a new merged run iff no earlier span
    // (by start order) reaches it — running max of end over preceding rows
    val order = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val prev = order.rowsBetween(Window.unboundedPreceding, -1)
    val run = order.rowsBetween(Window.unboundedPreceding, 0)
    val merged = sp
      .withColumn("new_grp",
        when(coalesce(max(col("end")).over(prev), lit(-1)) >= col("start"), 0L)
          .otherwise(1L))
      .withColumn("grp", sum(col("new_grp")).over(run))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("start")).as("s"), max(col("end")).as("e"))
    val per = merged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).as("n_dup_tokens"))
    docs.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_spans", "n_dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("n_dup_spans"),
        col("n_dup_tokens"),
        round(when(col("n_tokens") > 0,
          col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(0.0), 9).as("dup_coverage"))
  }

  /** Exact-substring SCRUB (q144): q76 measures duplicated-span coverage;
    * this operator actually removes it — every token inside a duplicated
    * 8-word span (seen in >1 distinct doc) is dropped and the surviving
    * tokens are reassembled in order into the cleaned, whitespace-normalized
    * document. Per doc: original/kept/removed token counts plus the 60-bit
    * fingerprint of the cleaned text (the artifact a re-ingest keys on).
    * Scale shape: the q76 substrate (stride-1 hashed spans, one keyed
    * distinct-doc count, per-doc interval union) plus one bounded position
    * explode and a LEFT ANTI join on (doc, pos) — never pairwise; the
    * reassembly agg is per-doc bounded (collect of one doc's own tokens,
    * the same bound as holding the document string itself).
    */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("w"))
    val sh = toks.where(size(col("w")) >= spanWords)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("w")) - (spanWords - 1), lit(1)))
          .as("i"),
        col("w"))
      .select(col(idCol), col("i"),
        TextAnalysis.hash60Fast(s,
          concat_ws(" ", slice(col("w"), col("i"), lit(spanWords)))).as("h"))
    val multi = sh.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") > 1)
    val sp = sh.join(multi, "h")
      .select(col(idCol), col("i").as("start"),
        (col("i") + spanWords).as("end"))
    val order = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val prev = order.rowsBetween(Window.unboundedPreceding, -1)
    val run = order.rowsBetween(Window.unboundedPreceding, 0)
    val merged = sp
      .withColumn("new_grp",
        when(coalesce(max(col("end")).over(prev), lit(-1)) >= col("start"), 0L)
          .otherwise(1L))
      .withColumn("grp", sum(col("new_grp")).over(run))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("start")).as("s"), max(col("end")).as("e"))
    // merged intervals are disjoint, so the position explode is exact
    // (no per-position dedup needed) and bounded by the dup-token count
    val dupPos = merged.select(col(idCol),
      explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val allPos = toks
      .select(col(idCol), posexplode(col("w")).as(Seq("p0", "word")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("word"))
    val kept = allPos.join(dupPos, Seq(idCol, "pos"), "left_anti")
    val re = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word"))).as("cleaned"))
    docs.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(re, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        TextAnalysis.hash60Fast(s, coalesce(col("cleaned"), lit("")))
          .as("cleaned_h"))
  }

  val SimhashBits = 32

  /** Session-scoped cache of per-corpus simhash signatures: the signature
    * table is a deterministic derived artifact consumed by three operators
    * (q37 raw signatures, q46 keeper selection, q59 banded Hamming), so it
    * is computed once per corpus key and checkpointed — the
    * materialized-view analog, same posture as the trained codebook/BPE
    * caches. `key` should identify the corpus (e.g. the fixture dir).
    */
  private val simhashCache = graft.SessionCaches
    .memo[(String, String, String), DataFrame]("q00b_sub_simhash")

  def simhashCached(docs: DataFrame, key: String,
      idCol: String, textCol: String): DataFrame =
    simhashCache.getOrElseUpdate(
      (docs.sparkSession.sparkContext.applicationId, (key, idCol, textCol)),
      simhash(docs, idCol, textCol).localCheckpoint())

  /** Session-scoped cache of the MinHash/LSH substrate — the hashed
    * shingles, band rows, and default-cap candidate pairs that q36
    * (Jaccard), q84 (containment), and q88 (incremental delta dedup) all
    * consume. Deterministic derived artifacts of the corpus key, so
    * computed once and checkpointed (the materialized-view posture, same
    * as [[simhashCached]] and the trained codebook/BPE caches; at cluster
    * scale these are bucketed tables maintained alongside the corpus).
    * Bench attribution: the build is benched as its own named line
    * (q00a_sub_minhash, [[graft.Substrates]]) so consumers measure warm;
    * all three layers register under that name.
    */
  private def minhashLayer() = graft.SessionCaches
    .memo[(String, String, String), DataFrame]("q00a_sub_minhash")
  private val shingleCache = minhashLayer()
  private val bandCache = minhashLayer()
  private val candCache = minhashLayer()

  /** The hashed-shingle layer alone (r16): q265 and the field-similarity
    * substrate (q00g) consume ONLY the shingles — building bands +
    * candidate pairs as a side effect of the tuple cache made every
    * shingle-only consumer pay the full LSH pipeline. Each layer now
    * caches independently; [[minhashSubstrateCached]] composes them, so
    * the full build is the same work as before, just demand-driven.
    */
  def hashedShinglesCached(docs: DataFrame, key: String,
      idCol: String, textCol: String): DataFrame =
    shingleCache.getOrElseUpdate(
      (docs.sparkSession.sparkContext.applicationId, (key, idCol, textCol)),
      hashedShingleRows(docs, idCol, textCol).localCheckpoint())

  /** (hashedShingles, bandRows, candidatePairs) for a corpus, cached per
    * SparkContext + corpus key. All three are localCheckpoint-backed.
    */
  def minhashSubstrateCached(docs: DataFrame, key: String,
      idCol: String, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val k = (docs.sparkSession.sparkContext.applicationId,
      (key, idCol, textCol))
    val sh = hashedShinglesCached(docs, key, idCol, textCol)
    val bands = bandCache.getOrElseUpdate(k,
      bandRows(minhashSignaturesAgg(sh, idCol), idCol).localCheckpoint())
    val cands = candCache.getOrElseUpdate(k,
      candidatePairs(bands, idCol).localCheckpoint())
    (sh, bands, cands)
  }

  /** 32-bit SimHash per document: for each bit j, sum ±1 votes of the
    * distinct-token hash bits; bit set iff the vote is positive. One
    * explode + one groupBy with 32 sum aggregates.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .withColumn("h", TextAnalysis.hash60Fast(docs.sparkSession, col("tok")))
    val votes = (0 until SimhashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"v$j")
    }
    val voted = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val value = (0 until SimhashBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    voted.select(col(idCol), value.as("simhash"))
  }
}
