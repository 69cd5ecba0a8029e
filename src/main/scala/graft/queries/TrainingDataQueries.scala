package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.{Bpe, Dedup, KMeans, Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the first north-star batch:
  * BPE-style sub-word tokenization, IVF approximate nearest neighbors,
  * near-dup keeper selection, per-label centroids (the IVF "training"
  * primitive), and corpus vocabulary building.
  *
  * Scale notes are inline per query; the common theme is that every
  * pairwise-looking step is restricted to a broadcastable set (centroids,
  * probes) or a hash bucket (simhash), never the corpus cross product.
  */
object TrainingDataQueries {

  /** DuckDB list literal of the q31 stopword set (oracle-side twin of
    * [[TextAnalysis.stopwords]], same as TextQueries' helper). */
  private val stopwordListSqlTD =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Exact decimal dot of two DuckDB list columns over index i (oracle). */
  private def dotSql(a: String, b: String) =
    s"CAST(SUM(CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE)"

  /** Oracle twin of [[graft.ext.KMeans.trainCodebook]]: `iters` unrolled
    * Lloyd rounds as a CTE chain (merge decisions are data-dependent, so
    * the oracle replays training rather than receiving it). Produces CTEs
    * `e` / `n2` (double-cast embeddings + exact norms) and per round r:
    * `km_assign{r}` (nearest-centroid by rounded cosine, ties to smallest
    * cid), `km_cells{r}` ((cid, dim) floor-fixed-point means), `km_c{r}` /
    * `km_cn{r}` (assembled centroid lists + norms).
    *
    * `p` prefixes every CTE name (so two chains can coexist in one oracle —
    * the product-quantization subspaces of q85); `slice = Some((lo, hi))`
    * trains over the 1-based inclusive dim slice of the embedding instead
    * of the full vector (the Spark twin is `slice(col, lo, hi - lo + 1)`).
    */
  private def kmeansCtes(k: Int, iters: Int, p: String = "",
      slice: Option[(Int, Int)] = None): String = {
    val src = slice
      .map { case (lo, hi) => s"list_slice(embedding, $lo, $hi)" }
      .getOrElse("embedding")
    val rounds = (1 to iters).map { r =>
      val q = r - 1
      s"""${p}km_terms$r AS (
        |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM ${p}e e CROSS JOIN ${p}km_c$q c),
        |${p}km_dots$r AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM ${p}km_terms$r GROUP BY vec_id, embedding, cid, ce),
        |${p}km_scored$r AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM ${p}km_dots$r d JOIN ${p}n2 v ON d.vec_id = v.vec_id
        |    JOIN ${p}km_cn$q c ON d.cid = c.cid),
        |${p}km_assign$r AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |    FROM ${p}km_scored$r) WHERE rn = 1),
        |${p}km_cells$r AS (
        |  SELECT cid, CAST(i - 1 AS INT) AS dim,
        |    ${QueryDef.tavgSql("embedding[i]")} AS cv,
        |    COUNT(*) AS n_vectors
        |  FROM (SELECT a.cid, e.embedding,
        |      unnest(generate_series(1, len(e.embedding))) AS i
        |    FROM ${p}km_assign$r a JOIN ${p}e e ON a.vec_id = e.vec_id)
        |  GROUP BY 1, 2),
        |${p}km_c$r AS MATERIALIZED (
        |  SELECT cid, list(cv ORDER BY dim) AS ce FROM ${p}km_cells$r GROUP BY cid),
        |${p}km_cn$r AS MATERIALIZED (
        |  SELECT cid, ${dotSql("ce", "ce")} AS cn2
        |  FROM (SELECT cid, ce, unnest(generate_series(1, len(ce))) AS i
        |    FROM ${p}km_c$r)
        |  GROUP BY cid, ce)""".stripMargin
    }
    s"""${p}e AS MATERIALIZED (
      |  SELECT vec_id, list_transform($src, x -> CAST(x AS DOUBLE)) AS embedding
      |  FROM embeddings),
      |${p}n2 AS MATERIALIZED (
      |  SELECT vec_id, ${dotSql("embedding", "embedding")} AS n2
      |  FROM (SELECT vec_id, embedding,
      |      unnest(generate_series(1, len(embedding))) AS i FROM ${p}e)
      |  GROUP BY vec_id, embedding),
      |${p}km_c0 AS (SELECT vec_id AS cid, embedding AS ce FROM ${p}e WHERE vec_id < $k),
      |${p}km_cn0 AS (SELECT vec_id AS cid, n2 AS cn2 FROM ${p}n2 WHERE vec_id < $k),
      |${rounds.mkString(",\n")}""".stripMargin
  }

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single other glyphs —
    * the GPT-2-style split that sub-word vocabularies are trained over.
    * Identical regex semantics in Java (Spark) and RE2 (DuckDB).
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Number of BPE merge rounds trained by q57/q60 (small but enough to
    * produce multi-character subwords on the fixture corpus).
    */
  val BpeMerges = 20

  /** Oracle twin of [[graft.ext.Bpe.trainMerges]]: `n` unrolled merge
    * rounds as CTEs (the chosen pair is data-dependent, so the oracle
    * replays training). Round r: `bp{r}` adjacent-pair counts, `bt{r}` the
    * (freq DESC, lhs, rhs) winner, `bw{r}` the re-encoded vocabulary.
    */
  private def bpeCtes(n: Int): String = {
    val rounds = (1 to n).map { r =>
      val p = r - 1
      s"""bp$r AS (
        |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
        |    CAST(SUM(freq) AS BIGINT) AS pair_freq
        |  FROM (SELECT syms, freq,
        |      unnest(generate_series(1, len(syms) - 1)) AS i
        |    FROM (SELECT string_split(trim(enc), '  ') AS syms, freq
        |      FROM bw$p))
        |  GROUP BY 1, 2),
        |bt$r AS MATERIALIZED (SELECT lhs, rhs, pair_freq FROM bp$r
        |  ORDER BY pair_freq DESC, lhs ASC, rhs ASC LIMIT 1),
        |bw$r AS MATERIALIZED (
        |  SELECT token, CASE WHEN lhs IS NULL THEN enc
        |    ELSE replace(enc, ' ' || lhs || '  ' || rhs || ' ',
        |      ' ' || lhs || rhs || ' ') END AS enc, freq
        |  FROM bw$p LEFT JOIN bt$r ON TRUE)""".stripMargin
    }
    // MATERIALIZED: each round references the previous one twice; DuckDB's
    // default CTE inlining would duplicate the subtree per reference —
    // exponential (2^rounds) scans of the base table
    s"""bvocab AS MATERIALIZED (
      |  SELECT tok AS token, COUNT(*) AS freq
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      |    FROM documents)
      |  GROUP BY tok),
      |bw0 AS (SELECT token, regexp_replace(token, '(.)', ' \\1 ', 'g') AS enc,
      |  freq FROM bvocab),
      |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Byte bands the 32-bit simhash splits into for Hamming-banded
    * candidate generation (q59): Hamming ≤ SimhashBands - 1 guarantees a
    * shared band by pigeonhole.
    */
  val SimhashBands = 4

  /** Oracle CTE chain computing the per-doc 32-bit simhash (`sig`), the
    * exact twin of [[graft.ext.Dedup.simhash]] — shared by q46 and q59.
    */
  private def simhashSigCte: String = {
    val bits = Dedup.SimhashBits
    val votes = (0 until bits)
      .map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS v$j").mkString(",\n    ")
    val value = (0 until bits)
      .map(j => s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""t AS (
    |  SELECT doc_id,
    |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
    |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
    |  FROM documents),
    |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
    |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    |v AS (SELECT doc_id,
    |    $votes
    |  FROM h GROUP BY 1),
    |sig AS MATERIALIZED (SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  /** Letter-run word frequencies over the corpus — BPE's training input
    * (word TYPES with counts; the only corpus-scale pass in training).
    */
  private def letterVocab(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0)))
        .as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
  }

  /** Session-scoped caches for trained artifacts (BPE merges, k-means
    * codebook): training is deterministic in (corpus dir, params), so the
    * result is a materialized view — the first consumer trains, later
    * consumers (q45+q56 share the codebook; q57+q60 share the merges)
    * reuse. Each registers under its trainer's bench line, so a flagged
    * q56 retime re-trains the codebook and a q57 retime the merges.
    */
  private val bpeCache = graft.SessionCaches.memo[(String, Int),
    (Seq[Bpe.Merge], org.apache.spark.sql.DataFrame)]("q57_bpe_merges")
  private val codebookCache = graft.SessionCaches.memo[(String, Int, Int),
    org.apache.spark.sql.DataFrame]("q56_kmeans_codebook")

  private def trainedMerges(s: org.apache.spark.sql.SparkSession, dir: String) =
    bpeCache.getOrElseUpdate((s.sparkContext.applicationId, (dir, BpeMerges)),
      Bpe.trainMerges(letterVocab(s, dir), BpeMerges))

  private[queries] def trainedCodebook(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, iters: Int) =
    codebookCache.getOrElseUpdate(
      (s.sparkContext.applicationId, (dir, k, iters)), {
      import s.implicits._
      KMeans.trainCodebook(
        Tables.embeddings(s, dir).select($"vec_id", $"embedding"), k, iters)
    })

  /** Oracle twin of the full q85 PQ-ADC chain: training (both
    * subspaces), joint codes, LUTs, and the `adc` scored CTE —
    * shared by q85 (top-k output) and q119 (recall eval).
    */
  private def pqAdcCtes: String =
    s"""${kmeansCtes(k = 4, iters = 1, p = "s1_", slice = Some((1, 32)))},
        |${kmeansCtes(k = 4, iters = 1, p = "s2_", slice = Some((33, 64)))},
        |s1_at AS (
        |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM s1_e e CROSS JOIN s1_km_c1 c),
        |s1_ad AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM s1_at GROUP BY vec_id, embedding, cid, ce),
        |s1_as AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM s1_ad d JOIN s1_n2 v ON d.vec_id = v.vec_id
        |    JOIN s1_km_cn1 c ON d.cid = c.cid),
        |s1_code AS (
        |  SELECT vec_id, cid AS c1 FROM (
        |    SELECT vec_id, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |    FROM s1_as) WHERE rn = 1),
        |s2_at AS (
        |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM s2_e e CROSS JOIN s2_km_c1 c),
        |s2_ad AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM s2_at GROUP BY vec_id, embedding, cid, ce),
        |s2_as AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM s2_ad d JOIN s2_n2 v ON d.vec_id = v.vec_id
        |    JOIN s2_km_cn1 c ON d.cid = c.cid),
        |s2_code AS (
        |  SELECT vec_id, cid AS c2 FROM (
        |    SELECT vec_id, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |    FROM s2_as) WHERE rn = 1),
        |codes AS (SELECT a.vec_id, a.c1, b.c2
        |  FROM s1_code a JOIN s2_code b ON a.vec_id = b.vec_id),
        |qn AS (
        |  SELECT vec_id AS query_id, ${dotSql("embedding", "embedding")} AS qn2
        |  FROM (SELECT vec_id, embedding,
        |      unnest(generate_series(1, len(embedding))) AS i
        |    FROM embeddings WHERE vec_id < 5)
        |  GROUP BY vec_id, embedding),
        |s1_lt AS (
        |  SELECT q.vec_id AS query_id, c.cid AS c1, q.embedding AS qe, c.ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM (SELECT vec_id, embedding FROM s1_e WHERE vec_id < 5) q
        |  CROSS JOIN s1_km_c1 c),
        |s1_lut AS (
        |  SELECT query_id, c1, ${dotSql("qe", "ce")} AS d1
        |  FROM s1_lt GROUP BY query_id, c1, qe, ce),
        |s2_lt AS (
        |  SELECT q.vec_id AS query_id, c.cid AS c2, q.embedding AS qe, c.ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM (SELECT vec_id, embedding FROM s2_e WHERE vec_id < 5) q
        |  CROSS JOIN s2_km_c1 c),
        |s2_lut AS (
        |  SELECT query_id, c2, ${dotSql("qe", "ce")} AS d2
        |  FROM s2_lt GROUP BY query_id, c2, qe, ce),
        |adc AS (
        |  SELECT l1.query_id, cd.vec_id,
        |    ROUND(CASE WHEN qn.qn2 > 0 AND (n1.cn2 + nx.cn2) > 0
        |      THEN (l1.d1 + l2.d2) / (sqrt(qn.qn2) * sqrt(n1.cn2 + nx.cn2))
        |      ELSE 0.0 END, 9) AS pq_sim
        |  FROM codes cd
        |  JOIN s1_lut l1 ON cd.c1 = l1.c1
        |  JOIN s2_lut l2 ON cd.c2 = l2.c2 AND l2.query_id = l1.query_id
        |  JOIN s1_km_cn1 n1 ON cd.c1 = n1.cid
        |  JOIN s2_km_cn1 nx ON cd.c2 = nx.cid
        |  JOIN qn ON qn.query_id = l1.query_id
        |  WHERE cd.vec_id <> l1.query_id)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Sub-word (BPE-ish) token statistics next to whitespace tokens.
    //    Pure narrow map stage: one regex pass per row, no shuffle.
    QueryDef(
      "q44_bpe_tokens",
      (s, dir) => {
        import s.implicits._
        val toks = regexp_extract_all(lower($"text"), lit(BpePattern), lit(0))
        Tables.documents(s, dir)
          .select($"doc_id",
            size(toks).as("n_bpe_tokens"),
            size(array_distinct(toks)).as("n_distinct_bpe"),
            TextAnalysis.tokenCount($"text").as("n_ws_tokens"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS bpe
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(bpe) AS INT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(bpe)) AS INT) AS n_distinct_bpe,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT) END
        |    AS n_ws_tokens
        |FROM t""".stripMargin)),

    // ── IVF approximate nearest neighbors: coarse-quantize every vector to
    //    its nearest TRAINED centroid cell (codebook = 2 Lloyd rounds via
    //    KMeans.trainCodebook, broadcast — one narrow pass), probe the 2
    //    best cells per query, exact-rescore only inside probed cells. At
    //    100 TB the assignment is a map stage and the probe join is equi on
    //    cell id: no all-pairs work anywhere.
    QueryDef(
      "q45_ivf_ann",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        // exact squared norm computed ONCE per vector, reused by every
        // centroid score and every rescore — 1/3 the decimal work of the
        // fused cosine kernel per pair
        def cosine(dot: org.apache.spark.sql.Column,
            na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
          round(when(na > 0.0 && nb > 0.0, dot / (sqrt(na) * sqrt(nb)))
            .otherwise(0.0), 9)
        val raw = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val e = raw
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("embedding"))
          .withColumn("n2", dotExact($"embedding", $"embedding"))
        val cents = broadcast(trainedCodebook(s, dir, k = 8, iters = 2)
          .select($"cid", $"ce", $"cn2"))
        val scored = e.join(cents)
          .select($"vec_id", $"embedding", $"n2", $"cid",
            cosine(dotExact($"embedding", $"ce"), $"n2", $"cn2").as("c_sim"))
        // assignment via max_by, not a window: partial aggregation collapses
        // the K centroid scores to 1 row per vector map-side, so the
        // exchange carries one row per vector and never sorts — at 100 TB
        // this is K× less shuffle than rank-over-partition. Ties break to
        // the smallest cid via the (c_sim, -cid) struct ordering.
        val assign = scored.groupBy($"vec_id")
          .agg(max_by($"cid", struct($"c_sim", -$"cid")).as("cid"),
            first($"embedding").as("c_emb"), first($"n2").as("c_n2"))
          .select($"vec_id".as("cand_id"), $"c_emb", $"c_n2", $"cid")
        // probe ranking only runs on the (pushed-down) 5-query slice
        val bySim = Window.partitionBy($"vec_id")
          .orderBy($"c_sim".desc, $"cid".asc)
        val probes = scored.where($"vec_id" >= 100 && $"vec_id" < 105)
          .withColumn("rn", row_number().over(bySim))
          .where($"rn" <= 2)
          .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
            $"n2".as("q_n2"), $"cid")
        val rescored = assign.join(broadcast(probes), Seq("cid"))
          .where($"cand_id" =!= $"query_id")
          .select($"query_id", $"cand_id",
            cosine(dotExact($"q_emb", $"c_emb"), $"q_n2", $"c_n2").as("cosine_sim"))
        val topk = Window.partitionBy($"query_id")
          .orderBy($"cosine_sim".desc, $"cand_id".asc)
        rescored.withColumn("rank", row_number().over(topk).cast("int"))
          .where($"rank" <= 10)
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 2)},
        |terms AS (
        |  SELECT e.vec_id, e.embedding, cid, ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM e CROSS JOIN km_c2),
        |dots AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM terms GROUP BY vec_id, embedding, cid, ce),
        |scored AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN km_cn2 c ON d.cid = c.cid),
        |ranked AS (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |  FROM scored),
        |assign AS (SELECT vec_id AS cand_id, cid FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM ranked
        |  WHERE vec_id >= 100 AND vec_id < 105 AND rn <= 2),
        |cand AS (
        |  SELECT query_id, cand_id FROM probes JOIN assign USING (cid)
        |  WHERE cand_id <> query_id),
        |rterms AS (
        |  SELECT query_id, cand_id, q.embedding AS qe, c.embedding AS ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = cand_id),
        |rdots AS (
        |  SELECT query_id, cand_id, ${dotSql("qe", "ce")} AS dot
        |  FROM rterms GROUP BY query_id, cand_id, qe, ce),
        |rescored AS (
        |  SELECT query_id, cand_id,
        |    ROUND(CASE WHEN q.n2 > 0 AND c.n2 > 0
        |      THEN r.dot / (sqrt(q.n2) * sqrt(c.n2)) ELSE 0.0 END, 9) AS cs
        |  FROM rdots r JOIN n2 q ON r.query_id = q.vec_id
        |    JOIN n2 c ON r.cand_id = c.vec_id)
        |SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT query_id, cand_id, cs AS cosine_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, cand_id ASC) AS rank
        |  FROM rescored)
        |WHERE rank <= 10""".stripMargin)),

    // ── Near-dup keeper selection over SimHash buckets: a doc is dropped
    //    iff a smaller-id doc has the identical 32-bit signature. One
    //    narrow signature pass + one window over the signature — the
    //    keep/drop decision never compares documents pairwise.
    QueryDef(
      "q46_near_dup_keep",
      (s, dir) => {
        import s.implicits._
        val sigs = Dedup.simhashCached(Tables.documents(s, dir), dir, "doc_id", "text")
        val bySig = Window.partitionBy($"simhash")
        sigs
          .withColumn("keeper_doc_id", min($"doc_id").over(bySig))
          .select($"doc_id", $"simhash", $"keeper_doc_id",
            ($"doc_id" =!= $"keeper_doc_id").as("dropped"))
      },
      Some(s"""WITH $simhashSigCte
        |SELECT doc_id, simhash,
        |  MIN(doc_id) OVER (PARTITION BY simhash) AS keeper_doc_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY simhash) AS dropped
        |FROM sig""".stripMargin)),

    // ── Banded Hamming-distance simhash near-dup (upgrades q46's
    //    exact-signature-only matching): split the 32-bit signature into 4
    //    byte bands; by pigeonhole any pair with Hamming ≤ 3 shares at
    //    least one identical band, so candidates = equi-join on
    //    (band_id, band_val) — a plain keyed shuffle, never all-pairs —
    //    then verify popcount(xor) ≤ 3 on the carried signatures. A pair
    //    sharing k bands would surface k times, so each pair is emitted
    //    ONLY from its LOWEST shared band (all lower bands must differ —
    //    the standard multi-index dedup filter): a narrow codegen'd
    //    predicate on the carried signatures replaces a DISTINCT exchange
    //    over the full candidate stream. That matters because real
    //    simhash buckets are SKEWED (shared vocabulary correlates the
    //    bit votes: at sf0.1 the hottest of the 256 band values holds
    //    2566 of 5000 docs and the raw candidate stream is ~8.9M pairs);
    //    measured 4.07s → 1.84s warm-substrate. At 100 TB the residual
    //    hot-bucket quadratic is handled the same way the minhash path
    //    does it — band-index bucketing + the skew cap — but under THIS
    //    query's exact-recall contract the filter is the part that is
    //    free of semantic change.
    QueryDef(
      "q59_simhash_hamming",
      (s, dir) => {
        import s.implicits._
        // substrate consumed by all 4 band projections — materialize once
        val sigs = Dedup.simhashCached(Tables.documents(s, dir), dir, "doc_id", "text")
          .localCheckpoint()
        val bandCols = (0 until SimhashBands).map { bnd =>
          struct(lit(bnd).as("band_id"),
            shiftright($"simhash", bnd * 8).bitwiseAND(255).as("band_val"))
        }
        val bands = sigs
          .select($"doc_id", $"simhash", explode(array(bandCols: _*)).as("band"))
          .select($"doc_id", $"simhash", $"band.band_id", $"band.band_val")
        val a = bands.select($"doc_id".as("doc_a"), $"simhash".as("sig_a"),
          $"band_id", $"band_val")
        val b = bands.select($"doc_id".as("doc_b"), $"simhash".as("sig_b"),
          $"band_id", $"band_val")
        def bandOf(sig: org.apache.spark.sql.Column,
            j: Int): org.apache.spark.sql.Column =
          shiftright(sig, j * 8).bitwiseAND(255)
        val lowerBandsDiffer = (0 until SimhashBands).map { k =>
          (0 until k).map(j => bandOf($"sig_a", j) =!= bandOf($"sig_b", j))
            .foldLeft($"band_id" === k)(_ && _)
        }.reduce(_ || _)
        a.join(b, Seq("band_id", "band_val"))
          .where($"doc_a" < $"doc_b" && lowerBandsDiffer)
          .select($"doc_a", $"doc_b",
            bit_count($"sig_a".bitwiseXOR($"sig_b")).as("hamming"))
          .where($"hamming" <= 3)
      },
      Some(s"""WITH $simhashSigCte,
        |bands AS (
        |  SELECT doc_id, simhash, band_id,
        |    (simhash >> (band_id * 8)) & 255 AS band_val
        |  FROM sig CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${SimhashBands - 1})) AS band_id)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sig_a, b.simhash AS sig_b
        |  FROM bands a JOIN bands b
        |    ON a.band_id = b.band_id AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id
        |  WHERE ${(0 until SimhashBands).map { k =>
               val lower = (0 until k).map(j =>
                 s"((a.simhash >> ${j * 8}) & 255) <> " +
                   s"((b.simhash >> ${j * 8}) & 255)")
               (s"a.band_id = $k" +: lower).mkString("(", " AND ", ")")
             }.mkString(" OR ")})
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3""".stripMargin)),

    // ── MULTI-PROBE banded simhash (the recall knob on q59): the probe
    //    side also queries every one-bit variant of each band value
    //    (8 flips per 8-bit band), so by pigeonhole any pair with Hamming
    //    ≤ 2·bands − 1 = 7 shares a probed key in some band (≤ 7 errors
    //    over 4 bands put ≤ 1 in the best band, which a 1-bit flip
    //    reaches). This is the standard recall/cost dial for banded
    //    similarity search: candidate volume grows 9× per band, recall
    //    radius grows from 3 to 7, the plan shape does NOT change — still
    //    a keyed equi-join, never all-pairs. At 100 TB you pick the probe
    //    set per query budget; the verify step (popcount over carried
    //    signatures) is identical.
    QueryDef(
      "q117_multiprobe",
      (s, dir) => {
        import s.implicits._
        val sigs = Dedup.simhashCached(Tables.documents(s, dir), dir, "doc_id", "text")
          .localCheckpoint()
        val bandCols = (0 until SimhashBands).map { bnd =>
          struct(lit(bnd).as("band_id"),
            shiftright($"simhash", bnd * 8).bitwiseAND(255).as("band_val"))
        }
        val bands = sigs
          .select($"doc_id", $"simhash", explode(array(bandCols: _*)).as("band"))
          .select($"doc_id", $"simhash", $"band.band_id", $"band.band_val")
        val probes = bands
          .select($"doc_id".as("doc_a"), $"simhash".as("sig_a"), $"band_id",
            explode(expr("concat(array(band_val), transform(sequence(0, 7)," +
              " j -> band_val ^ shiftleft(cast(1 as bigint), j)))"))
              .as("band_val"))
        val exact = bands.select($"doc_id".as("doc_b"), $"simhash".as("sig_b"),
          $"band_id", $"band_val")
        // a pair matches AT MOST ONCE per band (the 9 probed values are
        // distinct, so exactly one equals the exact side iff the intra-
        // band Hamming is <= 1); cross-band duplicates are cut by the
        // q59 lowest-band rule — emit only from the first band within
        // probe reach (all lower bands must differ by >= 2 bits) — a
        // narrow codegen'd predicate instead of a DISTINCT exchange over
        // the radius-7 pair stream
        val sigX = $"sig_a".bitwiseXOR($"sig_b")
        val lowestProbedBand = (0 until SimhashBands).map { k =>
          (0 until k).map(j =>
            bit_count(sigX.bitwiseAND(lit(255L << (j * 8)))) >= 2)
            .foldLeft($"band_id" === k)(_ && _)
        }.reduce(_ || _)
        probes.join(exact, Seq("band_id", "band_val"))
          .where($"doc_a" < $"doc_b" && lowestProbedBand)
          .select($"doc_a", $"doc_b",
            bit_count(sigX).as("hamming"))
          .where($"hamming" <= 7)
          .select($"doc_a", $"hamming")
          // pair volume at radius 7 is large by design — report the recall
          // profile (pairs + touched docs per Hamming distance), which is
          // what the radius/cost decision actually reads
          .groupBy($"hamming")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct($"doc_a").as("n_docs_a"))
      },
      Some(s"""WITH $simhashSigCte,
        |bands AS (
        |  SELECT doc_id, simhash, band_id,
        |    (simhash >> (band_id * 8)) & 255 AS band_val
        |  FROM sig CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${SimhashBands - 1})) AS band_id)),
        |probes AS (
        |  SELECT doc_id, simhash, band_id, band_val FROM bands
        |  UNION ALL
        |  SELECT doc_id, simhash, band_id,
        |    xor(band_val, (1::BIGINT << j)) AS band_val
        |  FROM bands CROSS JOIN
        |    (SELECT unnest(generate_series(0, 7)) AS j)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sig_a, b.simhash AS sig_b
        |  FROM probes a JOIN bands b
        |    ON a.band_id = b.band_id AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id
        |  WHERE ${(0 until SimhashBands).map { k =>
               val lower = (0 until k).map(j =>
                 s"bit_count(xor(a.simhash, b.simhash) & " +
                   s"${255L << (j * 8)}) >= 2")
               (s"a.band_id = $k" +: lower).mkString("(", " AND ", ")")
             }.mkString(" OR ")}),
        |hd AS (
        |  SELECT doc_a, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |  FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 7)
        |SELECT hamming, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT doc_a) AS n_docs_a
        |FROM hd GROUP BY 1""".stripMargin)),

    // ── CAPPED band index — the at-scale dial q59's exact-recall contract
    //    can't take, shipped as its own op (round 15; the gensf1 scaling
    //    run measured q59's TRUE answer at 224.8M pairs for 50k docs —
    //    answer-bound quadratic growth this fixture plants by
    //    construction). The dedup DECISION ("does an EARLIER similar doc
    //    exist, and who is my keeper?") doesn't need the full pair set:
    //    each (band_id, band_val) bucket keeps only its C=64 LOWEST
    //    doc_ids as index members (keepers are by definition early ids —
    //    q34/q46's keeper rule), every doc probes its 4 band values, and
    //    verification is popcount over the carried signatures. Two
    //    structural wins: (1) per-doc candidates are ≤ 4·C regardless of
    //    occupancy, so total work is LINEAR in the corpus — measured
    //    0.23 / 0.28 / 0.23 s warm at gen-sf0.01/0.1/1 (signatures ride
    //    q59's session substrate) vs exact q59's 1.24 / 2.81 / 47.3 s
    //    on the same windows; (2) the whole index is ≤ bands·256·C = 65,536
    //    rows AT ANY CORPUS SIZE, a constant — so it BROADCASTS and the
    //    probe side never shuffles (plan-pinned: one BroadcastHashJoin,
    //    no Exchange before it). Output is one row per doc (dropped +
    //    keeper), never a pair stream. The recall trade is explicit and
    //    deterministic: a doc whose nearest earlier neighbor is outside
    //    the 64 earliest in all 4 shared buckets keeps itself — the
    //    miss path a production dedup accepts for bounded cost; the
    //    oracle replays the identical capped algorithm, so correctness
    //    is still rows+schema+hash-exact.
    QueryDef(
      "q347_capped_band_index",
      (s, dir) => {
        import s.implicits._
        val sigs = Dedup.simhashCached(
          Tables.documents(s, dir), dir, "doc_id", "text").localCheckpoint()
        val bandCols = (0 until SimhashBands).map { bnd =>
          struct(lit(bnd).as("band_id"),
            shiftright($"simhash", bnd * 8).bitwiseAND(255).as("band_val"))
        }
        val bands = sigs
          .select($"doc_id", $"simhash", explode(array(bandCols: _*)).as("band"))
          .select($"doc_id", $"simhash", $"band.band_id", $"band.band_val")
        // index: the 64 earliest docs per bucket — ≤ 65,536 rows total at
        // any corpus size, so the explicit broadcast is provably bounded
        val byBucket = Window.partitionBy($"band_id", $"band_val")
          .orderBy($"doc_id")
        val idx = bands
          .withColumn("rn", row_number().over(byBucket))
          .where($"rn" <= 64)
          .select($"doc_id".as("doc_b"), $"simhash".as("sig_b"),
            $"band_id", $"band_val")
        val verified = bands
          .select($"doc_id".as("doc_a"), $"simhash".as("sig_a"),
            $"band_id", $"band_val")
          .join(broadcast(idx), Seq("band_id", "band_val"))
          .where($"doc_b" < $"doc_a" &&
            bit_count($"sig_a".bitwiseXOR($"sig_b")) <= 3)
          // min over the (possibly multi-band-duplicated) candidate
          // stream — no DISTINCT exchange needed for a min
          .groupBy($"doc_a").agg(min($"doc_b").as("keeper_doc_id"))
        sigs.select($"doc_id")
          .join(verified.withColumnRenamed("doc_a", "doc_id"),
            Seq("doc_id"), "left")
          .select($"doc_id", $"keeper_doc_id".isNotNull.as("dropped"),
            $"keeper_doc_id")
      },
      Some(s"""WITH $simhashSigCte,
        |bands AS (
        |  SELECT doc_id, simhash, band_id,
        |    (simhash >> (band_id * 8)) & 255 AS band_val
        |  FROM sig CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${SimhashBands - 1})) AS band_id)),
        |idx AS (
        |  SELECT doc_id AS doc_b, simhash AS sig_b, band_id, band_val
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, band_val
        |      ORDER BY doc_id) AS rn FROM bands)
        |  WHERE rn <= 64),
        |verified AS (
        |  SELECT p.doc_id, MIN(i.doc_b) AS keeper_doc_id
        |  FROM bands p JOIN idx i
        |    ON i.band_id = p.band_id AND i.band_val = p.band_val
        |      AND i.doc_b < p.doc_id
        |  WHERE bit_count(xor(p.simhash, i.sig_b)) <= 3
        |  GROUP BY 1)
        |SELECT s.doc_id, v.keeper_doc_id IS NOT NULL AS dropped,
        |  v.keeper_doc_id
        |FROM sig s LEFT JOIN verified v ON v.doc_id = s.doc_id""".stripMargin)),

    // ── Epoch planning — q69's other half: q69 DOWN-samples sources whose
    //    temperature-weighted budget is below their available tokens; this
    //    computes the repeat schedule for sources whose budget EXCEEDS
    //    supply (the data-constrained regime: budget_s tokens of source s
    //    are consumed as floor(budget/t_s) full epochs plus a partial
    //    final epoch). Same sqrt-temperature weights, total budget = 1.2×
    //    corpus tokens so both regimes appear. Integer epoch arithmetic
    //    ((b + t − 1) div t on exact BIGINTs) — run-independent; the whole
    //    plan after the one token-count pass is a 20-row table.
    QueryDef(
      "q118_epoch_plan",
      (s, dir) => {
        import s.implicits._
        val src = Tables.documents(s, dir)
          .select($"source", TextAnalysis.tokenCount($"text").as("n_tokens"))
          .groupBy($"source")
          .agg(sum($"n_tokens".cast("long")).as("t_s"))
        val tot = src.agg(
          sum($"t_s").as("t_total"),
          sum(sqrt($"t_s".cast("double")).cast("decimal(30,18)"))
            .as("sqrt_tot"))
        src.crossJoin(broadcast(tot))
          .select($"source", $"t_s",
            floor(expr("(t_total * 12) div 10").cast("double") *
              (sqrt($"t_s".cast("double")) / $"sqrt_tot".cast("double")))
              .cast("long").as("budget_tokens"))
          .select($"source", $"t_s", $"budget_tokens",
            when($"t_s" > 0L,
              expr("(budget_tokens + t_s - 1) div t_s")).otherwise(0L)
              .as("n_epochs"),
            when($"t_s" > 0L,
              round((($"budget_tokens" % $"t_s").cast("double") /
                $"t_s".cast("double")), 9)).otherwise(0.0)
              .as("final_epoch_rate"),
            ($"budget_tokens" > $"t_s").as("upsampled"))
      },
      Some("""WITH d AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS t_s
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t_total,
        |    SUM(CAST(sqrt(CAST(t_s AS DOUBLE)) AS DECIMAL(30,18))) AS sqrt_tot
        |  FROM s),
        |b AS (SELECT source, t_s,
        |    CAST(floor(CAST((t_total * 12) // 10 AS DOUBLE) *
        |      (sqrt(CAST(t_s AS DOUBLE)) / CAST(sqrt_tot AS DOUBLE))) AS BIGINT)
        |      AS budget_tokens
        |  FROM s CROSS JOIN tot)
        |SELECT source, t_s, budget_tokens,
        |  CASE WHEN t_s > 0 THEN (budget_tokens + t_s - 1) // t_s
        |       ELSE 0 END AS n_epochs,
        |  CASE WHEN t_s > 0 THEN
        |    ROUND(CAST(budget_tokens % t_s AS DOUBLE) / CAST(t_s AS DOUBLE), 9)
        |    ELSE 0.0 END AS final_epoch_rate,
        |  budget_tokens > t_s AS upsampled
        |FROM b""".stripMargin)),

    // ── Per-label mean embedding: the codebook/centroid-training primitive
    //    (k-means update step). posexplode + groupBy(label, dim) is one
    //    shuffle of (label, dim) cells; exact decimal sums keep the means
    //    bit-identical across engines and partial-agg orders.
    QueryDef(
      "q47_label_centroids",
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir)
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(QueryDef.tavg(col("v").cast("double")).as("centroid_v"),
            count(lit(1)).as("n_vectors"))
      },
      Some(s"""WITH t AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  ${QueryDef.tavgSql("CAST(embedding[i] AS DOUBLE)")} AS centroid_v,
        |  COUNT(*) AS n_vectors
        |FROM t GROUP BY 1, 2""".stripMargin)),

    // ── Trained k-means codebook (the full Lloyd loop, not just q47's
    //    update step): 2 assign+update rounds from a deterministic init,
    //    emitted as (cid, dim, centroid_v, n_vectors) cells. The oracle
    //    replays the identical training via unrolled CTEs — exact cosine
    //    assignment + floor-fixed-point means make every round
    //    bit-reproducible across engines.
    QueryDef(
      "q56_kmeans_codebook",
      (s, dir) => {
        import s.implicits._
        trainedCodebook(s, dir, k = 8, iters = 2)
          .select($"cid", $"n_vectors", posexplode($"ce").as(Seq("dim", "centroid_v")))
          .select($"cid", $"dim", $"centroid_v", $"n_vectors")
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 2)}
        |SELECT cid, dim, cv AS centroid_v, n_vectors
        |FROM km_cells2""".stripMargin)),

    // ── Real BPE merge training (not just the q44 pre-tokenizer): 20
    //    rounds of most-frequent-adjacent-pair over the letter-run word
    //    vocabulary, ties broken (freq DESC, lhs, rhs). Training runs over
    //    word types — the corpus-scale work is one word-count shuffle; each
    //    round is vocabulary-sized. Output = the trained merge table.
    QueryDef(
      "q57_bpe_merges",
      (s, dir) => {
        import s.implicits._
        val (merges, _) = trainedMerges(s, dir)
        merges.toDF()
          .select($"step", $"lhs", $"rhs", $"freq".as("pair_freq"))
      },
      Some(s"""WITH ${bpeCtes(BpeMerges)}
        |${(1 to BpeMerges)
          .map(r => s"SELECT CAST($r AS INT) AS step, lhs, rhs, pair_freq FROM bt$r")
          .mkString("\nUNION ALL ")}""".stripMargin)),

    // ── BPE application: segment every corpus word with the trained
    //    merges. The per-token subword count is a vocabulary-sized lookup
    //    table joined onto the exploded corpus tokens (at 100 TB: vocab is
    //    millions of rows — AQE broadcasts it; the corpus side is one
    //    narrow explode + keyed agg, no pairwise work).
    QueryDef(
      "q60_bpe_apply",
      (s, dir) => {
        import s.implicits._
        val (_, seg) = trainedMerges(s, dir)
        val nsub = seg.select($"token", size(Bpe.symbols($"enc")).as("n_sub"))
        Tables.documents(s, dir)
          .select($"doc_id",
            explode(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0)))
              .as("token"))
          .join(nsub, "token")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_word_tokens"),
            sum($"n_sub").as("n_subword_tokens"))
      },
      Some(s"""WITH ${bpeCtes(BpeMerges)},
        |seg AS (SELECT token, len(string_split(trim(enc), '  ')) AS n_sub
        |  FROM bw$BpeMerges),
        |dt AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents)
        |SELECT doc_id, COUNT(*) AS n_word_tokens,
        |  CAST(SUM(n_sub) AS BIGINT) AS n_subword_tokens
        |FROM dt JOIN seg USING (token) GROUP BY doc_id""".stripMargin)),

    // ── Tokenizer fertility per source: subword tokens per word and
    //    letters per subword token under the TRAINED BPE vocabulary — the
    //    standard tokenizer-quality metric (a fertility spike on one source
    //    means the vocabulary under-serves it, e.g. code or another
    //    language, and its effective token budget silently inflates).
    //    Same substrate as q60 (vocabulary-sized segmentation lookup
    //    joined onto the exploded corpus, AQE-broadcastable), aggregated
    //    to a 20-row source profile; the two ratios are single pinned IEEE
    //    divisions of exact integer sums. Training stays charged to q57
    //    (the session cache rule).
    QueryDef(
      "q100_fertility",
      (s, dir) => {
        import s.implicits._
        val (_, seg) = trainedMerges(s, dir)
        val nsub = seg.select($"token", size(Bpe.symbols($"enc")).as("n_sub"))
        Tables.documents(s, dir)
          .select($"source",
            explode(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0)))
              .as("token"))
          .join(nsub, "token")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_sub").as("n_subwords"),
            sum(length($"token").cast("long")).as("n_letters"),
            round(sum($"n_sub").cast("double") /
              count(lit(1)).cast("double"), 9).as("fertility"),
            round(sum(length($"token").cast("long")).cast("double") /
              sum($"n_sub").cast("double"), 9).as("chars_per_token"))
      },
      Some(s"""WITH ${bpeCtes(BpeMerges)},
        |seg AS (SELECT token, len(string_split(trim(enc), '  ')) AS n_sub
        |  FROM bw$BpeMerges),
        |dt AS (SELECT source,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_words,
        |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
        |  CAST(SUM(length(token)) AS BIGINT) AS n_letters,
        |  ROUND(CAST(SUM(n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS fertility,
        |  ROUND(CAST(SUM(length(token)) AS DOUBLE) / CAST(SUM(n_sub) AS DOUBLE), 9)
        |    AS chars_per_token
        |FROM dt JOIN seg USING (token) GROUP BY source""".stripMargin)),

    // ── Duplicate clustering: embedding near-dup pairs (label-blocked,
    //    exact cosine >= 0.4 — the CosinePrefilter rule injects the cheap
    //    double prefilter automatically) fed into min-label-propagation
    //    connected components. cluster_id = smallest member id. The oracle
    //    computes the same closure with a recursive CTE.
    QueryDef(
      "q49_dup_clusters",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.cosineSimExact
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"label", $"embedding")
        val a = e.select($"vec_id".as("vec_a"), $"label", $"embedding".as("ea"))
        val b = e.select($"vec_id".as("vec_b"), $"label", $"embedding".as("eb"))
        val pairs = a.join(b, Seq("label"))
          .where($"vec_a" < $"vec_b")
          .where(cosineSimExact($"ea", $"eb") >= 0.4)
          .select($"vec_a", $"vec_b")
        Dedup.connectedComponents(pairs, "vec_a", "vec_b")
      },
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding FROM embeddings),
        |terms AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    a.embedding AS ea, b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        |dots AS (
        |  SELECT vec_a, vec_b,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM terms GROUP BY 1, 2),
        |pairs AS (
        |  SELECT vec_a, vec_b FROM dots
        |  WHERE ROUND(CASE WHEN na > 0 AND nb > 0
        |    THEN dot / (sqrt(na) * sqrt(nb)) ELSE 0.0 END, 9) >= 0.4),
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION SELECT vec_b, vec_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src)
        |SELECT id, LEAST(id, MIN(dst)) AS cluster_id
        |FROM (SELECT src AS id, dst FROM reach) GROUP BY id""".stripMargin)),

    // ── Corpus vocabulary: global token frequencies, top 50. The classic
    //    word-count shape: partial-agg map-side, one shuffle on token, then
    //    TakeOrderedAndProject (no global sort materialization).
    QueryDef(
      "q48_vocab_topk",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"token".asc)
          .limit(50)
      },
      Some("""WITH t AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |tok AS (SELECT unnest(toks) AS token FROM t)
        |SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1
        |ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin)),

    // ── Deterministic train/validation/test split: bucket = 60-bit md5 of
    //    a salted doc key mod 100 → 80/10/10. Pure narrow map — the split
    //    is a property of the document, not of the run: reproducible on
    //    any cluster, stable under re-partitioning, no RNG state.
    QueryDef(
      "q63_hash_split",
      (s, dir) => {
        import s.implicits._
        val bucket = pmod(TextAnalysis.hash60(
          concat(lit("split:"), $"doc_id".cast("string"))), lit(100)).cast("int")
        Tables.documents(s, dir)
          .select($"doc_id", bucket.as("bucket"))
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation").otherwise("test"))
      },
      Some("""SELECT doc_id,
        |  CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS INT) AS bucket,
        |  CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // ── Sequence packing for pretraining: documents fill 512-token
    //    training sequences first-fit in (source, doc_id) order —
    //    seq_id = floor(exclusive-prefix-sum(tokens) / 512). The window
    //    runs per source partition (parallel, no global sort); the output
    //    is sequence-level manifest rows. At 100 TB the per-source prefix
    //    sum is the standard two-pass distributed scan if one source
    //    outgrows a partition.
    QueryDef(
      "q64_seq_pack",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").as("n_tokens"))
          .withColumn("cum_before",
            coalesce(sum($"n_tokens").over(w), lit(0L)))
          .withColumn("seq_id", floor($"cum_before" / 512).cast("int"))
          .groupBy($"source", $"seq_id")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("seq_tokens"),
            min($"doc_id").as("first_doc"),
            max($"doc_id").as("last_doc"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT source, CAST(cum_before // 512 AS INT) AS seq_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""".stripMargin)),

    // ── Packing-quality report on q64's sequences: fill efficiency
    //    (tokens per 512-slot) and cross-document contamination (share of
    //    sequences mixing ≥ 2 documents — the packed-attention leakage a
    //    trainer either masks or accepts). Pure rollup of the packing
    //    manifest: 20 rows out, and the interesting ratios are single
    //    pinned divisions of exact integer sums.
    QueryDef(
      "q141_packing_stats",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val seqs = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").as("n_tokens"))
          .withColumn("cum_before",
            coalesce(sum($"n_tokens").over(w), lit(0L)))
          .withColumn("seq_id", floor($"cum_before" / 512).cast("int"))
          .groupBy($"source", $"seq_id")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
        seqs.groupBy($"source")
          .agg(count(lit(1)).as("n_seqs"),
            sum($"n_docs").as("n_docs"),
            sum($"seq_tokens").as("n_tokens"),
            sum(when($"n_docs" > 1L, 1L).otherwise(0L)).as("n_mixed"))
          .select($"source", $"n_seqs", $"n_docs", $"n_tokens", $"n_mixed",
            round($"n_mixed".cast("double") / $"n_seqs".cast("double"), 9)
              .as("mixed_share"),
            round($"n_tokens".cast("double") /
              ($"n_seqs".cast("double") * lit(512.0)), 9).as("fill_ratio"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t),
        |seqs AS (
        |  SELECT source, CAST(cum_before // 512 AS INT) AS seq_id,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM c GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_seqs,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
        |  ROUND(CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS mixed_share,
        |  ROUND(CAST(SUM(seq_tokens) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(512 AS DOUBLE)), 9) AS fill_ratio
        |FROM seqs GROUP BY source""".stripMargin)),

    // ── Quality-first budget fill — the selection strategy q69's uniform
    //    hash sampling deliberately is not: each source spends a token
    //    budget (30% of its supply) on its HIGHEST-quality documents
    //    first (quality-ordered running total, keep while the budget
    //    holds). One window per source partition over gate-verified
    //    scores (doc_id tie-break: total order, no ties); budgets are
    //    integer arithmetic. The per-source rollup reports docs/tokens
    //    kept and realized mean quality of the selection, floor-1e9.
    QueryDef(
      "q142_budget_fill",
      (s, dir) => {
        import s.implicits._
        val qc = TextAnalysis.qualityColumns($"text").toMap
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
            qc("quality_score").as("q"))
        val budgets = d.groupBy($"source")
          .agg(expr("(sum(n_tokens) * 3) div 10").as("budget"))
        val byQ = Window.partitionBy($"source")
          .orderBy($"q".desc, $"doc_id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("cum", sum($"n_tokens").over(byQ))
          .join(broadcast(budgets), "source")
          .where($"cum" <= $"budget")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_kept"),
            sum($"n_tokens").as("tokens_kept"),
            min($"budget").as("budget"),
            (sum(floor($"q" * lit(1e9)).cast("long")).cast("double") /
              lit(1e9) / count(lit(1))).as("mean_quality_kept"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, source, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, z -> list_contains($stopwordListSqlTD, z))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2 AS q
        |  FROM t),
        |b AS (SELECT source, (SUM(n_tokens) * 3) // 10 AS budget
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT d.doc_id, d.source, d.n_tokens, d.q, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.source
        |      ORDER BY d.q DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN b USING (source))
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
        |  CAST(MIN(budget) AS BIGINT) AS budget,
        |  CAST(SUM(CAST(floor(q * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)
        |    AS mean_quality_kept
        |FROM c WHERE cum <= budget GROUP BY source""".stripMargin)),

    // ── Temperature-weighted source mixing — the data-mixing sampler a
    //    multilingual/multi-domain pretraining run uses: per-source token
    //    budgets ∝ t_s^α (α = 0.5 here — upweights small sources the way
    //    temperature sampling does), turned into a deterministic per-doc
    //    keep decision via the salted 60-bit hash (the q63 split device,
    //    so membership is run-independent and resumable). Double math is
    //    order-pinned (sqrt is correctly-rounded IEEE; the sqrt-sum runs
    //    in exact decimal; one multiply + one divide in fixed order, then
    //    round-9) so both engines derive bit-identical rates. Scale shape:
    //    one narrow token-count pass, a 20-row source agg, a 1-row total,
    //    rates broadcast back onto the corpus — zero corpus-sized shuffles.
    QueryDef(
      "q69_source_mixing",
      (s, dir) => {
        import s.implicits._
        // the narrow token-count pass feeds the source agg AND the final
        // keep-flag projection — materialize once so "one pass" is true in
        // the executed plan, not just the design note
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").as("n_tokens"))
          .localCheckpoint()
        val src = d.groupBy($"source")
          .agg(sum($"n_tokens".cast("long")).as("t_s"))
        val tot = src.agg(
          sum($"t_s").as("t_total"),
          sum(sqrt($"t_s".cast("double")).cast("decimal(30,18)"))
            .as("sqrt_tot"))
        // t_s = 0 guard: the unguarded rate is 0.0/0.0 = NaN and least()
        // treats NaN as the maximum in both engines, which would KEEP all
        // of a tokenless source instead of dropping it
        val rates = src.crossJoin(broadcast(tot))
          .select($"source",
            when($"t_s" > 0L, round(least(lit(1.0),
              (floor($"t_total" * 0.3) *
                (sqrt($"t_s".cast("double")) / $"sqrt_tot".cast("double"))) /
                $"t_s".cast("double")), 9)).otherwise(0.0).as("sample_rate"))
        d.join(broadcast(rates), "source")
          .select($"doc_id", $"source", $"n_tokens", $"sample_rate",
            (pmod(TextAnalysis.hash60Fast(s,
              concat($"doc_id".cast("string"), lit(":mix"))), lit(1000000L)) <
              floor($"sample_rate" * 1000000.0).cast("long")).as("keep"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS t_s
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t_total,
        |    SUM(CAST(sqrt(CAST(t_s AS DOUBLE)) AS DECIMAL(30,18))) AS sqrt_tot
        |  FROM s),
        |r AS (SELECT source,
        |    CASE WHEN t_s > 0 THEN round(least(1.0,
        |      (floor(t_total * 0.3) *
        |        (sqrt(CAST(t_s AS DOUBLE)) / CAST(sqrt_tot AS DOUBLE))) /
        |        CAST(t_s AS DOUBLE)), 9) ELSE 0.0 END AS sample_rate
        |  FROM s CROSS JOIN tot)
        |SELECT d.doc_id, d.source, d.n_tokens, r.sample_rate,
        |  (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15))::BIGINT
        |    % 1000000) < CAST(floor(r.sample_rate * 1000000.0) AS BIGINT) AS keep
        |FROM d JOIN r USING (source)""".stripMargin)),

    // ── Per-document keyword extraction: top-5 terms by tf-idf. The idf
    //    here is the LINEAR variant (N/df, not ln(N/df)) on purpose: ln is
    //    not IEEE-correctly-rounded and differs by ulps across libm
    //    implementations, while one integer-derived division and one
    //    multiplication are bit-deterministic in every engine — the
    //    ordering this produces is the engine-portable choice, and the
    //    extraction semantics (rare-across-corpus, frequent-in-doc) are
    //    unchanged. Scale shape: one token explode → (doc, term) counts
    //    (one keyed shuffle), term document-frequencies re-aggregated from
    //    those counts (never a second corpus pass), a keyed join back,
    //    and a per-doc top-k window on the (small) per-doc term lists.
    QueryDef(
      "q73_keywords",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val n = docs.select(count(lit(1)).as("n_docs"))
        // r16 optimization (guide §2.4, the q125 rewrite): df = COUNT of
        // tf rows per term, so it rides a term-keyed window over the same
        // pass instead of a separate agg + self-join — the unshared tf
        // subtree (explode + rollup) was evaluated twice (an earlier
        // checkpoint A/B was a wash precisely because it only cached the
        // double work; the window removes it)
        val tf = docs
          .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val byDoc = Window.partitionBy($"doc_id")
          .orderBy($"tfidf".desc, $"term".asc)
        tf
          .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
          .crossJoin(broadcast(n))
          .select($"doc_id", $"term", $"tf", $"df",
            round($"tf" * ($"n_docs".cast("double") / $"df".cast("double")), 6)
              .as("tfidf"))
          .withColumn("rank", row_number().over(byDoc))
          .where($"rank" <= 5)
          .select($"doc_id", $"term", $"tf", $"df", $"tfidf",
            $"rank".cast("int").as("rank"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, unnest(toks) AS term FROM t),
        |tfc AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tf GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
        |    ROUND(tfc.tf * (CAST(n.n_docs AS DOUBLE) / CAST(dfc.df AS DOUBLE)), 6)
        |      AS tfidf
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin)),

    // ── SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    //    deduplication that uses the TRAINED k-means codebook as its
    //    blocking structure — every embedding is assigned to its nearest
    //    centroid cell (q45's coarse quantizer, identical assignment rule),
    //    the pairwise exact-cosine kernel runs ONLY within a cell, and a
    //    vector is dropped when a smaller-id cell-mate scores >= the
    //    threshold (the q46 min-id keeper convention). Scale shape: the
    //    cells bound every pairwise step exactly like LSH buckets do in
    //    q36/q61 — at 100 TB k grows with the corpus (k ~ sqrt(N) cells
    //    keeps cell populations flat), assignment stays a broadcast-join
    //    map stage, and no step ever sees corpus × corpus. The assignment
    //    substrate feeds both sides of the cell self-join plus the output
    //    projection, so it is materialized once (the q36/q59/q61 posture);
    //    the CosinePrefilter rule injects the fast-double margin test under
    //    the exact kernel, so decimal work runs only near the boundary.
    QueryDef(
      "q74_semdedup",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.{cosineSimExact, dotExact}
        val cents = broadcast(trainedCodebook(s, dir, k = 8, iters = 2)
          .select($"cid", $"ce", $"cn2"))
        // float embeddings dot double centroids exactly (float→double is
        // exact), so the raw column serves assignment AND the pair kernel
        val scored = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding")
          .withColumn("n2", dotExact($"embedding", $"embedding"))
          .join(cents)
          .select($"vec_id", $"embedding", $"cid",
            Similarity.cosine(dotExact($"embedding", $"ce"), $"n2", $"cn2")
              .as("c_sim"))
        val assign = scored.groupBy($"vec_id")
          .agg(max_by($"cid", struct($"c_sim", -$"cid")).as("cid"),
            first($"embedding").as("embedding"))
          .localCheckpoint()
        val drops = assign.select($"cid", $"vec_id".as("vec_a"), $"embedding".as("ea"))
          .join(assign.select($"cid", $"vec_id".as("vec_b"), $"embedding".as("eb")),
            Seq("cid"))
          .where($"vec_a" < $"vec_b")
          .where(cosineSimExact($"ea", $"eb") >= 0.4)
          .select($"vec_b".as("vec_id")).distinct()
        assign
          .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
          .select($"vec_id", $"cid", coalesce($"dropped", lit(false)).as("dropped"))
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 2)},
        |sd_terms AS (
        |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM e CROSS JOIN km_c2 c),
        |sd_dots AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM sd_terms GROUP BY vec_id, embedding, cid, ce),
        |sd_scored AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM sd_dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN km_cn2 c ON d.cid = c.cid),
        |sd_assign AS MATERIALIZED (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |    FROM sd_scored) WHERE rn = 1),
        |sd_pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM sd_assign a JOIN sd_assign b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |sd_pterms AS (
        |  SELECT vec_a, vec_b, pa.embedding AS ea, pb.embedding AS eb,
        |    unnest(generate_series(1, len(pa.embedding))) AS i
        |  FROM sd_pairs JOIN e pa ON vec_a = pa.vec_id
        |    JOIN e pb ON vec_b = pb.vec_id),
        |sd_pdots AS (
        |  SELECT vec_a, vec_b, ${dotSql("ea", "eb")} AS dot
        |  FROM sd_pterms GROUP BY vec_a, vec_b, ea, eb),
        |sd_drop AS (
        |  SELECT DISTINCT vec_b FROM sd_pdots p
        |    JOIN n2 a ON p.vec_a = a.vec_id JOIN n2 b ON p.vec_b = b.vec_id
        |  WHERE ROUND(CASE WHEN a.n2 > 0 AND b.n2 > 0
        |    THEN p.dot / (sqrt(a.n2) * sqrt(b.n2)) ELSE 0.0 END, 9) >= 0.4)
        |SELECT s.vec_id, s.cid, (d.vec_b IS NOT NULL) AS dropped
        |FROM sd_assign s LEFT JOIN sd_drop d ON s.vec_id = d.vec_b""".stripMargin)),

    // ── Hard-negative mining for contrastive training: for each anchor,
    //    the top-3 most-similar vectors with a DIFFERENT label — the
    //    near-miss negatives that carry the gradient signal (easy randoms
    //    are information-free). Same trained-codebook blocking as q74:
    //    candidates come only from the anchor's cell (at 100 TB, multi-
    //    probe neighboring cells raise recall, same shape), the anchor set
    //    is a bounded slice, and the per-anchor top-3 is one keyed window
    //    over cell-mates — never anchors × corpus. The assignment
    //    substrate is materialized once and shared by both join sides.
    QueryDef(
      "q103_hard_negatives",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.{cosineSimExact, dotExact}
        val cents = broadcast(trainedCodebook(s, dir, k = 8, iters = 2)
          .select($"cid", $"ce", $"cn2"))
        val scored = Tables.embeddings(s, dir)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("n2", dotExact($"embedding", $"embedding"))
          .join(cents)
          .select($"vec_id", $"label", $"embedding", $"cid",
            Similarity.cosine(dotExact($"embedding", $"ce"), $"n2", $"cn2")
              .as("c_sim"))
        val assign = scored.groupBy($"vec_id")
          .agg(max_by($"cid", struct($"c_sim", -$"cid")).as("cid"),
            first($"label").as("label"),
            first($"embedding").as("embedding"))
          .localCheckpoint()
        val anchors = assign.where($"vec_id" < 50)
          .select($"cid", $"vec_id".as("anchor_id"),
            $"label".as("a_label"), $"embedding".as("ea"))
        val cands = assign.select($"cid", $"vec_id".as("neg_id"),
          $"label".as("n_label"), $"embedding".as("eb"))
        val byAnchor = Window.partitionBy($"anchor_id")
          .orderBy($"cosine_sim".desc, $"neg_id".asc)
        anchors.join(cands, Seq("cid"))
          .where($"a_label" =!= $"n_label")
          .select($"anchor_id", $"neg_id",
            cosineSimExact($"ea", $"eb").as("cosine_sim"))
          .withColumn("rank", row_number().over(byAnchor).cast("int"))
          .where($"rank" <= 3)
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 2)},
        |hn_terms AS (
        |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM e CROSS JOIN km_c2 c),
        |hn_dots AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM hn_terms GROUP BY vec_id, embedding, cid, ce),
        |hn_scored AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM hn_dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN km_cn2 c ON d.cid = c.cid),
        |hn_assign AS MATERIALIZED (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |    FROM hn_scored) WHERE rn = 1),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |hn_pairs AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id
        |  FROM hn_assign a JOIN hn_assign b ON a.cid = b.cid
        |    JOIN lab la ON a.vec_id = la.vec_id
        |    JOIN lab lb ON b.vec_id = lb.vec_id
        |  WHERE a.vec_id < 50 AND la.label <> lb.label),
        |hn_pterms AS (
        |  SELECT anchor_id, neg_id, pa.embedding AS ea, pb.embedding AS eb,
        |    unnest(generate_series(1, len(pa.embedding))) AS i
        |  FROM hn_pairs JOIN e pa ON anchor_id = pa.vec_id
        |    JOIN e pb ON neg_id = pb.vec_id),
        |hn_pdots AS (
        |  SELECT anchor_id, neg_id, ${dotSql("ea", "eb")} AS dot
        |  FROM hn_pterms GROUP BY anchor_id, neg_id, ea, eb),
        |hn_cos AS (
        |  SELECT anchor_id, neg_id,
        |    ROUND(CASE WHEN a.n2 > 0 AND b.n2 > 0
        |      THEN p.dot / (sqrt(a.n2) * sqrt(b.n2)) ELSE 0.0 END, 9) AS cosine_sim
        |  FROM hn_pdots p JOIN n2 a ON p.anchor_id = a.vec_id
        |    JOIN n2 b ON p.neg_id = b.vec_id)
        |SELECT anchor_id, neg_id, cosine_sim, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
        |    ORDER BY cosine_sim DESC, neg_id ASC) AS rn
        |  FROM hn_cos)
        |WHERE rn <= 3""".stripMargin)),

    // ── Per-source document cap — the "no source dominates the mixture"
    //    curation rule: keep at most N docs per source, chosen by salted
    //    60-bit hash order (a deterministic uniform sample — stable under
    //    re-partitioning and re-runs, unlike first-N-by-id which biases
    //    toward old documents). One window per source partition; the
    //    rank<=N predicate makes Spark push a WindowGroupLimit, so each
    //    partition retains only its top-N heap map-side — at 100 TB the
    //    shuffle carries N rows per source, not the corpus.
    QueryDef(
      "q78_source_cap",
      (s, dir) => {
        import s.implicits._
        val byHash = Window.partitionBy($"source")
          .orderBy($"cap_hash".asc, $"doc_id".asc)
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.hash60Fast(s,
              concat($"doc_id".cast("string"), lit(":cap"))).as("cap_hash"))
          .withColumn("cap_rank", row_number().over(byHash).cast("int"))
          .where($"cap_rank" <= 15)
          .select($"source", $"doc_id", $"cap_rank")
      },
      Some("""SELECT source, doc_id, CAST(rn AS INT) AS cap_rank FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15))::BIGINT ASC,
        |        doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 15""".stripMargin)),

    // ── Product quantization ANN (Jégou et al. 2011, "Product Quantization
    //    for Nearest Neighbor Search") — the memory-compressed ANN serving
    //    path: the 64-dim space splits into M = 2 independent 32-dim
    //    subspaces, each with its OWN trained codebook (k = 4, 1 Lloyd
    //    round, the same deterministic [[graft.ext.KMeans.trainCodebook]]
    //    as q56), every vector is encoded as M sub-codes (here 2×2 bits —
    //    the compression that lets 100 TB of vectors sit in RAM), and a
    //    query scores candidates by Asymmetric Distance Computation: ONE
    //    dot-product table of (query × k) entries per subspace, then every
    //    candidate's score is two LUT lookups + an add — never a full
    //    vector kernel per (query, candidate) pair. Scale shape: training
    //    and encoding are the q56/q74 broadcast-join map stages on half-
    //    width vectors; the LUTs are (queries × k) rows BY CONSTRUCTION
    //    (broadcast at any corpus size); scoring is a map-side double add
    //    over the codes table — the corpus never shuffles at all.
    QueryDef(
      "q85_pq_ann",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        // joint PQ training: both subspace codebooks from ONE Lloyd pass
        // per round (the m-subspaces-one-scan shape; bit-identical to two
        // independent trainCodebook runs — KMeansSpec pins it)
        val cbs = KMeans.trainProductCodebooks(emb, m = 2, subDim = 32,
          k = 4, iters = 1)
        // joint encode: one (vec, sub) assignment shuffle for all
        // subspaces (the q74 rule: rounded exact cosine, ties to smallest
        // cid, max_by partial agg), pivoted to one codes row per vector
        val embd = emb
          .select($"vec_id", transform($"embedding", x => x.cast("double")).as("emb"))
        val subs = array((0 until 2).map(i =>
          struct(lit(i).as("sub"), slice($"emb", i * 32 + 1, 32).as("se"))): _*)
        val esub = embd.select($"vec_id", explode(subs).as("p"))
          .select($"vec_id", $"p.sub".as("sub"), $"p.se".as("embedding"))
          .withColumn("n2", dotExact($"embedding", $"embedding"))
        val assign = esub
          .join(broadcast(cbs.select($"sub", $"cid", $"ce", $"cn2")), Seq("sub"))
          .select($"vec_id", $"sub", $"cid",
            Similarity.cosine(dotExact($"embedding", $"ce"), $"n2", $"cn2")
              .as("c_sim"))
          .groupBy($"vec_id", $"sub")
          .agg(max_by($"cid", struct($"c_sim", -$"cid")).as("cid"))
        val codes = assign.groupBy($"vec_id")
          .agg(max(when($"sub" === 0, $"cid")).as("c1"),
            max(when($"sub" === 1, $"cid")).as("c2"))
        // ADC lookup tables: exact dot of each query subvector against each
        // subspace centroid — (n_queries × k) rows, broadcast
        def lut(subId: Int, codeName: String, dName: String, cnName: String) =
          esub.where($"vec_id" < 5 && $"sub" === subId)
            .join(broadcast(cbs.where($"sub" === subId)
              .select($"cid".as(codeName), $"ce", $"cn2".as(cnName))))
            .select($"vec_id".as("query_id"), col(codeName),
              dotExact($"embedding", $"ce").as(dName), col(cnName))
        val l1 = lut(0, "c1", "d1", "cn1")
        val l2 = lut(1, "c2", "d2", "cn2b")
        val qn = embd.where($"vec_id" < 5)
          .select($"vec_id".as("query_id"), dotExact($"emb", $"emb").as("qn2"))
        val byQ = Window.partitionBy($"query_id")
          .orderBy($"pq_sim".desc, $"vec_id".asc)
        codes
          .join(broadcast(l1), "c1")
          .join(broadcast(l2), Seq("c2", "query_id"))
          .join(broadcast(qn), "query_id")
          .where($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            round(when($"qn2" > 0.0 && ($"cn1" + $"cn2b") > 0.0,
              ($"d1" + $"d2") / (sqrt($"qn2") * sqrt($"cn1" + $"cn2b")))
              .otherwise(0.0), 9).as("pq_sim"))
          .withColumn("rank", row_number().over(byQ).cast("int"))
          .where($"rank" <= 10)
      },
      Some(s"""WITH $pqAdcCtes
        |SELECT query_id, vec_id, pq_sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY pq_sim DESC, vec_id ASC) AS rank
        |  FROM adc)
        |WHERE rank <= 10""".stripMargin)),

    // ── Nearest-centroid classification probe — the embedding-quality
    //    evaluation that complements q71's linear probe: train one mean
    //    centroid per label (q47's primitive + assembled vectors), assign
    //    every embedding to its nearest centroid by exact cosine, and
    //    report per-label accuracy. Falling accuracy between embedding
    //    model versions = degraded class separation, caught without any
    //    downstream training run. Scale shape: centroids are #labels rows
    //    BY CONSTRUCTION (broadcast); assignment is the q45/q74 map-stage
    //    + max_by partial agg; the accuracy rollup is #labels-bounded.
    QueryDef(
      "q97_centroid_probe",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        val emb = Tables.embeddings(s, dir)
        val cells = emb
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(QueryDef.tavg($"v".cast("double")).as("cv"))
        val cents = cells.groupBy($"label")
          .agg(transform(array_sort(collect_list(struct($"dim", $"cv"))),
            _.getField("cv")).as("ce"))
          .withColumn("cn2", dotExact($"ce", $"ce"))
          .select($"label".as("clabel"), $"ce", $"cn2")
        val e = emb
          .select($"vec_id", $"label",
            transform($"embedding", x => x.cast("double")).as("emb"))
          .withColumn("n2", dotExact($"emb", $"emb"))
        val pred = e.join(broadcast(cents))
          .select($"vec_id", $"label", $"clabel",
            Similarity.cosine(dotExact($"emb", $"ce"), $"n2", $"cn2").as("sim"))
          .groupBy($"vec_id")
          .agg(min($"label").as("label"),
            max_by($"clabel", struct($"sim", -$"clabel")).as("pred"))
        pred.groupBy($"label")
          .agg(count(lit(1)).as("n"),
            sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"))
          .select($"label", $"n", $"n_correct",
            round($"n_correct".cast("double") / $"n".cast("double"), 9)
              .as("accuracy"))
      },
      Some(s"""WITH t AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |cells AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim,
        |    ${QueryDef.tavgSql("CAST(embedding[i] AS DOUBLE)")} AS cv
        |  FROM t GROUP BY 1, 2),
        |cents AS MATERIALIZED (
        |  SELECT label AS clabel, list(cv ORDER BY dim) AS ce
        |  FROM cells GROUP BY 1),
        |cn AS (
        |  SELECT clabel, ${dotSql("ce", "ce")} AS cn2
        |  FROM (SELECT clabel, ce, unnest(generate_series(1, len(ce))) AS i
        |    FROM cents)
        |  GROUP BY clabel, ce),
        |e AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, ${dotSql("emb", "emb")} AS n2
        |  FROM (SELECT vec_id, emb,
        |      unnest(generate_series(1, len(emb))) AS i FROM e)
        |  GROUP BY vec_id, emb),
        |dots AS (
        |  SELECT vec_id, clabel, ${dotSql("emb", "ce")} AS dot
        |  FROM (SELECT e.vec_id, e.emb, c.clabel, c.ce,
        |      unnest(generate_series(1, len(e.emb))) AS i
        |    FROM e CROSS JOIN cents c)
        |  GROUP BY vec_id, emb, clabel, ce),
        |scored AS (
        |  SELECT d.vec_id, d.clabel,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS sim
        |  FROM dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN cn c ON d.clabel = c.clabel),
        |pred AS (
        |  SELECT s.vec_id, e.label, s.clabel AS pred FROM (
        |    SELECT vec_id, clabel, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, clabel ASC) AS rn
        |    FROM scored) s
        |  JOIN e ON s.vec_id = e.vec_id WHERE s.rn = 1)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS accuracy
        |FROM pred GROUP BY 1""".stripMargin)),

    // ── ANN recall evaluation: recall@10 of the q45 IVF index against the
    //    exact brute-force top-10 for the same probe slice — the eval
    //    harness every approximate index needs before it replaces the
    //    exact path (recall is a measured property, not a hope; q85's PQ
    //    variant would be scored the same way). Both arms are existing
    //    engine plans (q45's trained-codebook probe; q40's broadcast
    //    brute-force restricted to the 5-anchor slice), composed by an
    //    equi-join on (query, candidate) — the eval costs one bounded join
    //    over 2×50 rows on top of the arms it measures.
    QueryDef(
      "q109_ann_recall",
      (s, dir) => {
        import s.implicits._
        val ivf = defs.find(_.name == "q45_ivf_ann").get.fn(s, dir)
          .select($"query_id", $"cand_id")
        val e = Tables.embeddings(s, dir).select($"vec_id".as("id"), $"embedding")
        val exact = Similarity.bruteForceTopK(
          e.where($"id" >= 100 && $"id" < 105), e, k = 10)
          .select($"query_id", $"cand_id")
        val base = exact.groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
        val inter = exact.join(ivf, Seq("query_id", "cand_id"))
          .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
        base.join(inter, Seq("query_id"), "left")
          .select($"query_id",
            coalesce($"n_overlap", lit(0L)).as("n_overlap"),
            round(coalesce($"n_overlap", lit(0L)).cast("double") /
              $"n_exact".cast("double"), 9).as("recall_at_10"))
      },
      Some(s"""WITH ${kmeansCtes(k = 8, iters = 2)},
        |iv_terms AS (
        |  SELECT e.vec_id, e.embedding, cid, ce,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM e CROSS JOIN km_c2),
        |iv_dots AS (
        |  SELECT vec_id, cid, ${dotSql("embedding", "ce")} AS dot
        |  FROM iv_terms GROUP BY vec_id, embedding, cid, ce),
        |iv_scored AS (
        |  SELECT d.vec_id, d.cid,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS c_sim
        |  FROM iv_dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN km_cn2 c ON d.cid = c.cid),
        |iv_ranked AS (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cid ASC) AS rn
        |  FROM iv_scored),
        |iv_assign AS (SELECT vec_id AS cand_id, cid FROM iv_ranked WHERE rn = 1),
        |iv_probes AS (SELECT vec_id AS query_id, cid FROM iv_ranked
        |  WHERE vec_id >= 100 AND vec_id < 105 AND rn <= 2),
        |iv_cand AS (
        |  SELECT query_id, cand_id FROM iv_probes JOIN iv_assign USING (cid)
        |  WHERE cand_id <> query_id),
        |iv_rterms AS (
        |  SELECT query_id, cand_id, q.embedding AS qe, c.embedding AS ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM iv_cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = cand_id),
        |iv_rdots AS (
        |  SELECT query_id, cand_id, ${dotSql("qe", "ce")} AS dot
        |  FROM iv_rterms GROUP BY query_id, cand_id, qe, ce),
        |iv_rescored AS (
        |  SELECT query_id, cand_id,
        |    ROUND(CASE WHEN q.n2 > 0 AND c.n2 > 0
        |      THEN r.dot / (sqrt(q.n2) * sqrt(c.n2)) ELSE 0.0 END, 9) AS cs
        |  FROM iv_rdots r JOIN n2 q ON r.query_id = q.vec_id
        |    JOIN n2 c ON r.cand_id = c.vec_id),
        |iv10 AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, cand_id ASC) AS rank
        |  FROM iv_rescored) WHERE rank <= 10),
        |bf_terms AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    q.embedding AS qe, c.embedding AS ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM e q CROSS JOIN e c
        |  WHERE q.vec_id >= 100 AND q.vec_id < 105 AND q.vec_id <> c.vec_id),
        |bf_dots AS (
        |  SELECT query_id, cand_id, ${dotSql("qe", "ce")} AS dot
        |  FROM bf_terms GROUP BY query_id, cand_id, qe, ce),
        |bf_cos AS (
        |  SELECT query_id, cand_id,
        |    ROUND(CASE WHEN q.n2 > 0 AND c.n2 > 0
        |      THEN d.dot / (sqrt(q.n2) * sqrt(c.n2)) ELSE 0.0 END, 9) AS cs
        |  FROM bf_dots d JOIN n2 q ON d.query_id = q.vec_id
        |    JOIN n2 c ON d.cand_id = c.vec_id),
        |bf10 AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, cand_id ASC) AS rank
        |  FROM bf_cos) WHERE rank <= 10),
        |base AS (SELECT query_id, COUNT(*) AS n_exact FROM bf10 GROUP BY 1),
        |inter AS (SELECT query_id, COUNT(*) AS n_overlap
        |  FROM bf10 JOIN iv10 USING (query_id, cand_id) GROUP BY 1)
        |SELECT b.query_id,
        |  CAST(COALESCE(i.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  ROUND(CAST(COALESCE(i.n_overlap, 0) AS DOUBLE)
        |    / CAST(b.n_exact AS DOUBLE), 9) AS recall_at_10
        |FROM base b LEFT JOIN inter i USING (query_id)""".stripMargin)),

    // ── Label-centroid similarity matrix — the "corpus map": pairwise
    //    exact cosine between the per-label mean embeddings (q47's
    //    centroid primitive, floor-fixed-point means so both engines
    //    assemble bit-identical vectors). A hot off-diagonal cell = two
    //    classes whose embedding mass overlaps (label noise, or a split
    //    leaking between them). Everything after the one posexplode agg
    //    is bounded by #labels: 10 assembled centroids, 45 pairs — the
    //    kernel work is label²-shaped no matter the corpus size.
    QueryDef(
      "q112_centroid_sim",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        val cells = Tables.embeddings(s, dir)
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(QueryDef.tavg(col("v").cast("double")).as("cv"))
        val cents = cells.groupBy($"label")
          .agg(transform(array_sort(collect_list(struct($"dim", $"cv"))),
            _.getField("cv")).as("ce"))
          .withColumn("cn2", dotExact($"ce", $"ce"))
        val a = cents.select($"label".as("label_a"), $"ce".as("ea"), $"cn2".as("na"))
        val b = cents.select($"label".as("label_b"), $"ce".as("eb"), $"cn2".as("nb"))
        a.crossJoin(b).where($"label_a" < $"label_b")
          .select($"label_a", $"label_b",
            Similarity.cosine(dotExact($"ea", $"eb"), $"na", $"nb")
              .as("centroid_sim"))
      },
      Some(s"""WITH t AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |cells AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim,
        |    ${QueryDef.tavgSql("CAST(embedding[i] AS DOUBLE)")} AS cv
        |  FROM t GROUP BY 1, 2),
        |c AS MATERIALIZED (
        |  SELECT label, list(cv ORDER BY dim) AS ce FROM cells GROUP BY label),
        |cn AS (
        |  SELECT label, ${dotSql("ce", "ce")} AS cn2
        |  FROM (SELECT label, ce, unnest(generate_series(1, len(ce))) AS i FROM c)
        |  GROUP BY label, ce),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    a.ce AS ea, b.ce AS eb
        |  FROM c a JOIN c b ON a.label < b.label),
        |pterms AS (
        |  SELECT label_a, label_b, ea, eb,
        |    unnest(generate_series(1, len(ea))) AS i
        |  FROM p),
        |pdots AS (
        |  SELECT label_a, label_b, ${dotSql("ea", "eb")} AS dot
        |  FROM pterms GROUP BY label_a, label_b, ea, eb)
        |SELECT d.label_a, d.label_b,
        |  ROUND(CASE WHEN x.cn2 > 0 AND y.cn2 > 0
        |    THEN d.dot / (sqrt(x.cn2) * sqrt(y.cn2)) ELSE 0.0 END, 9)
        |    AS centroid_sim
        |FROM pdots d JOIN cn x ON d.label_a = x.label
        |  JOIN cn y ON d.label_b = y.label""".stripMargin)),

    // ── PQ recall evaluation — q109's harness applied to the q85 PQ-ADC
    //    index: recall@10 of the 2×2-bit product quantizer against exact
    //    brute-force ground truth on the same query slice. PQ at this
    //    compression (16 cells for 8k vectors) is a LOSSY index; this
    //    query measures exactly how lossy, which is the number that
    //    decides m/k before anyone swaps the exact path out. Same bounded
    //    composition as q109: two existing arms + one (query, cand)
    //    equi-join.
    QueryDef(
      "q119_pq_recall",
      (s, dir) => {
        import s.implicits._
        val pq = defs.find(_.name == "q85_pq_ann").get.fn(s, dir)
          .select($"query_id", $"vec_id".as("cand_id"))
        val e = Tables.embeddings(s, dir).select($"vec_id".as("id"), $"embedding")
        val exact = Similarity.bruteForceTopK(
          e.where($"id" < 5), e, k = 10)
          .select($"query_id", $"cand_id")
        val base = exact.groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
        val inter = exact.join(pq, Seq("query_id", "cand_id"))
          .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
        base.join(inter, Seq("query_id"), "left")
          .select($"query_id",
            coalesce($"n_overlap", lit(0L)).as("n_overlap"),
            round(coalesce($"n_overlap", lit(0L)).cast("double") /
              $"n_exact".cast("double"), 9).as("recall_at_10"))
      },
      Some(s"""WITH $pqAdcCtes,
        |pq10 AS (SELECT query_id, vec_id AS cand_id FROM (
        |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY pq_sim DESC, vec_id ASC) AS rank
        |  FROM adc) WHERE rank <= 10),
        |fe AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
        |  FROM embeddings),
        |fn2 AS MATERIALIZED (
        |  SELECT vec_id, ${dotSql("embedding", "embedding")} AS n2
        |  FROM (SELECT vec_id, embedding,
        |      unnest(generate_series(1, len(embedding))) AS i FROM fe)
        |  GROUP BY vec_id, embedding),
        |bf_terms AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    q.embedding AS qe, c.embedding AS ce,
        |    unnest(generate_series(1, len(q.embedding))) AS i
        |  FROM fe q CROSS JOIN fe c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |bf_dots AS (
        |  SELECT query_id, cand_id, ${dotSql("qe", "ce")} AS dot
        |  FROM bf_terms GROUP BY query_id, cand_id, qe, ce),
        |bf_cos AS (
        |  SELECT query_id, cand_id,
        |    ROUND(CASE WHEN q.n2 > 0 AND c.n2 > 0
        |      THEN d.dot / (sqrt(q.n2) * sqrt(c.n2)) ELSE 0.0 END, 9) AS cs
        |  FROM bf_dots d JOIN fn2 q ON d.query_id = q.vec_id
        |    JOIN fn2 c ON d.cand_id = c.vec_id),
        |bf10 AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, cand_id ASC) AS rank
        |  FROM bf_cos) WHERE rank <= 10),
        |base AS (SELECT query_id, COUNT(*) AS n_exact FROM bf10 GROUP BY 1),
        |inter AS (SELECT query_id, COUNT(*) AS n_overlap
        |  FROM bf10 JOIN pq10 USING (query_id, cand_id) GROUP BY 1)
        |SELECT b.query_id,
        |  CAST(COALESCE(i.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  ROUND(CAST(COALESCE(i.n_overlap, 0) AS DOUBLE)
        |    / CAST(b.n_exact AS DOUBLE), 9) AS recall_at_10
        |FROM base b LEFT JOIN inter i USING (query_id)""".stripMargin)),

    // ── Embedding norm profile per label — the vector-data-quality
    //    monitor: an unnormalized batch (or a degenerate near-zero class)
    //    shows up immediately in the L2-norm distribution, before any
    //    cosine math silently absorbs it. One exact-kernel map stage
    //    (norms from dot_exact, so both engines see identical doubles),
    //    then a label-bounded exact-percentile agg (q29's 1e-6 rounding
    //    posture; approx_percentile is the documented at-scale swap).
    QueryDef(
      "q122_norm_profile",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        val norms = Tables.embeddings(s, dir)
          .select($"label",
            sqrt(dotExact($"embedding", $"embedding")).as("norm"))
        norms.groupBy($"label")
          .agg(count(lit(1)).as("n"),
            round(min($"norm"), 6).as("min_norm"),
            expr("round(percentile(norm, 0.5), 6)").as("median_norm"),
            expr("round(percentile(norm, 0.95), 6)").as("p95_norm"),
            round(max($"norm"), 6).as("max_norm"),
            round(QueryDef.tavg($"norm"), 6).as("mean_norm"))
      },
      Some(s"""WITH fe AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, label, ${dotSql("embedding", "embedding")} AS n2
        |  FROM (SELECT vec_id, label, embedding,
        |      unnest(generate_series(1, len(embedding))) AS i FROM fe)
        |  GROUP BY vec_id, label, embedding),
        |norms AS (SELECT label, sqrt(n2) AS norm FROM n2)
        |SELECT label, COUNT(*) AS n,
        |  ROUND(MIN(norm), 6) AS min_norm,
        |  ROUND(quantile_cont(norm, 0.5), 6) AS median_norm,
        |  ROUND(quantile_cont(norm, 0.95), 6) AS p95_norm,
        |  ROUND(MAX(norm), 6) AS max_norm,
        |  ROUND(${QueryDef.tavgSql("norm")}, 6) AS mean_norm
        |FROM norms GROUP BY label""".stripMargin)),

    // ── Simhash bit-bias diagnostic: per-bit 1-frequency of the 32-bit
    //    corpus signatures. A healthy sign-vote hash sits near 0.5 on
    //    every bit; a skewed bit means the underlying token hash mixes
    //    poorly THERE, and every band containing it develops hot buckets
    //    (q59/q117's equi-joins then skew). One explode of 32 bit
    //    positions over the cached signature substrate → 32-row profile;
    //    the |freq − 0.5| > 0.1 flag is the alarm threshold.
    QueryDef(
      "q136_simhash_bias",
      (s, dir) => {
        import s.implicits._
        val sigs = Dedup.simhashCached(Tables.documents(s, dir), dir, "doc_id", "text")
        val bits = sigs
          .select($"simhash", explode(sequence(lit(0), lit(Dedup.SimhashBits - 1)))
            .as("bit"))
          .groupBy($"bit")
          .agg(count(lit(1)).as("n"),
            sum(expr("shiftright(simhash, bit) & 1")).as("n_ones"))
        bits.select($"bit", $"n_ones",
            round($"n_ones".cast("double") / $"n".cast("double"), 9).as("freq"))
          .withColumn("biased", abs($"freq" - 0.5) > 0.1)
      },
      Some(s"""WITH $simhashSigCte,
        |b AS (
        |  SELECT bit, COUNT(*) AS n,
        |    CAST(SUM((simhash >> bit) & 1) AS BIGINT) AS n_ones
        |  FROM sig CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${Dedup.SimhashBits - 1})) AS bit)
        |  GROUP BY 1)
        |SELECT CAST(bit AS INT) AS bit, n_ones,
        |  ROUND(CAST(n_ones AS DOUBLE) / CAST(n AS DOUBLE), 9) AS freq,
        |  ABS(ROUND(CAST(n_ones AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |    - CAST(0.5 AS DOUBLE)) > CAST(0.1 AS DOUBLE) AS biased
        |FROM b""".stripMargin)),

    // ── Dead-dimension detector: per-dimension variance of the embedding
    //    space from exact fixed-point moments (q93's drift scan pointed at
    //    static health). A variance ≈ 0 dimension carries no signal but
    //    full storage/kernel cost — the flag that motivates q81-style
    //    compression or re-training. One posexplode pass → 64-row agg;
    //    values enter fixed point (floor 1e9) so Σv and Σv² are exact
    //    integers/decimals, then the variance tree is pinned IEEE.
    QueryDef(
      "q137_dead_dims",
      (s, dir) => {
        import s.implicits._
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val cells = Tables.embeddings(s, dir)
          .select(posexplode($"embedding").as(Seq("dim", "v")))
          .select($"dim", floor($"v".cast("double") * lit(1e9)).cast("long").as("y"))
        val st = cells.groupBy($"dim")
          .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
            sum(($"y".cast(dec19) * $"y".cast(dec19)).cast(dec)).as("syy"))
        val n = $"n".cast("double")
        val vy = (n * $"syy".cast("double") -
          $"sy".cast("double") * $"sy".cast("double")) / (n * n) / lit(1e18)
        st.select($"dim", $"n",
            round(($"sy".cast("double") / n) / lit(1e9), 9).as("mean_v"),
            round(vy, 9).as("var_v"))
          .withColumn("dead", $"var_v" < 0.0001)
      },
      Some("""WITH cells AS (
        |  SELECT CAST(i - 1 AS INT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT) AS y
        |  FROM (SELECT embedding,
        |      unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
        |st AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
        |  FROM cells GROUP BY 1)
        |SELECT dim, n,
        |  ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 1e9, 9) AS mean_v,
        |  ROUND((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e18, 9) AS var_v,
        |  ROUND((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e18, 9)
        |    < CAST(0.0001 AS DOUBLE) AS dead
        |FROM st""".stripMargin)),

    // ── Deterministic training-order interleave — the data-loader's
    //    global example order: each source is shuffled by the salted
    //    60-bit hash (epoch-seeded, run-independent), then sources are
    //    interleaved PROPORTIONALLY by normalized position
    //    (2·rn−1)/(2·n_s) — a source with 10× the docs appears 10× as
    //    often, uniformly, not in runs. Emits the first 500 global steps.
    //    Scale shape: per-source shuffle order is a keyed window (parallel
    //    across sources); the global order needs no total sort — the
    //    top-500 cut is TakeOrderedAndProject on the interleave key and
    //    step numbering happens on the bounded result.
    QueryDef(
      "q146_interleave_order",
      (s, dir) => {
        import s.implicits._
        val h = TextAnalysis.hash60Fast(s,
          concat(lit("order:"), $"doc_id".cast("string")))
        val bySrc = Window.partitionBy($"source").orderBy($"h", $"doc_id")
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source", h.as("h"))
          .withColumn("rn", row_number().over(bySrc).cast("long"))
        val counts = d.groupBy($"source").agg(count(lit(1)).as("n_s"))
        val keyed = d.join(broadcast(counts), "source")
          .select($"doc_id", $"source", $"rn",
            ((lit(2L) * $"rn" - 1L).cast("double") /
              (lit(2L) * $"n_s").cast("double")).as("pos_key"))
        val top = keyed.orderBy($"pos_key".asc, $"source".asc, $"doc_id".asc)
          .limit(500)
        top.withColumn("step",
          row_number().over(Window.orderBy($"pos_key".asc, $"source".asc,
            $"doc_id".asc)).cast("long"))
          .select($"step", $"doc_id", $"source", $"rn",
            round($"pos_key", 9).as("pos_key"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn
        |  FROM d),
        |c AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY 1),
        |k AS (
        |  SELECT doc_id, r.source, rn,
        |    CAST(2 * rn - 1 AS DOUBLE) / CAST(2 * n_s AS DOUBLE) AS pos_key
        |  FROM r JOIN c ON r.source = c.source),
        |sel AS (
        |  SELECT * FROM k ORDER BY pos_key ASC, source ASC, doc_id ASC
        |  LIMIT 500)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pos_key ASC, source ASC,
        |    doc_id ASC) AS BIGINT) AS step,
        |  doc_id, source, rn, ROUND(pos_key, 9) AS pos_key
        |FROM sel""".stripMargin)),

    // ── Length-bucketed batching — the padding-minimizing loader for a
    //    non-packing trainer: docs bucket to the next power-of-two token
    //    length (integer bit length, no libm), batches of 32 form inside
    //    each bucket, and the report prices the padding overhead per
    //    bucket. The power-of-two cap comes from length(bin(n−1)) —
    //    identical in both engines. Scale shape: one narrow token-count
    //    pass and ONE keyed agg — batch count is ceil(n/32) arithmetic,
    //    so the report needs no per-bucket row numbering at all (the
    //    windowed batch-id MATERIALIZATION is the loader's job at read
    //    time; a single bucket holding most of a 100 TB corpus would make
    //    that window the bottleneck here).
    QueryDef(
      "q147_length_batching",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
          .select($"doc_id",
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
          .where($"n_tokens" >= 1L)
          .withColumn("bin_cap",
            when($"n_tokens" <= 1L, 1L).otherwise(
              expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n_tokens - 1)) AS INT))")))
        d.groupBy($"bin_cap")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("n_tokens"),
            sum($"bin_cap" - $"n_tokens").as("pad_tokens"))
          .select($"bin_cap", $"n_docs",
            (($"n_docs" + 31L) / lit(32L)).cast("long").as("n_batches"),
            $"n_tokens", $"pad_tokens",
            round($"n_tokens".cast("double") /
              ($"n_docs" * $"bin_cap").cast("double"), 9).as("fill_ratio"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 1 THEN 1
        |         ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1))) END AS bin_cap
        |  FROM d WHERE n_tokens >= 1)
        |SELECT bin_cap, COUNT(*) AS n_docs,
        |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(bin_cap - n_tokens) AS BIGINT) AS pad_tokens,
        |  ROUND(CAST(SUM(n_tokens) AS DOUBLE)
        |    / CAST(COUNT(*) * bin_cap AS DOUBLE), 9) AS fill_ratio
        |FROM b GROUP BY bin_cap""".stripMargin)),

    // ── Tokenizer compression ratio — chars per TRAINED-BPE subword
    //    token, the Gopher-style quality heuristic: natural prose
    //    compresses well (high chars/token), character soup and
    //    boilerplate code blocks don't. Reuses the q57 trained merges
    //    (session cache) and q60's vocabulary-join application; flags the
    //    extreme tails. Scale shape: vocabulary-sized lookup broadcast
    //    onto one narrow corpus explode + per-doc agg.
    QueryDef(
      "q155_compression_ratio",
      (s, dir) => {
        import s.implicits._
        val (_, seg) = trainedMerges(s, dir)
        val nsub = seg.select($"token", size(Bpe.symbols($"enc")).as("n_sub"))
        val sub = Tables.documents(s, dir)
          .select($"doc_id",
            explode(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0)))
              .as("token"))
          .join(nsub, "token")
          .groupBy($"doc_id")
          .agg(sum($"n_sub").cast("long").as("n_subword_tokens"))
        Tables.documents(s, dir).select($"doc_id", $"n_chars")
          .join(sub, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_subword_tokens"))
          .select($"doc_id", $"n_chars", $"n_subword_tokens",
            round(when($"n_subword_tokens" > 0L,
              $"n_chars".cast("double") / $"n_subword_tokens".cast("double"))
              .otherwise(0.0), 9).as("chars_per_token"))
          .withColumn("flagged",
            $"chars_per_token" < 2.0 || $"chars_per_token" > 12.0)
      },
      Some(s"""WITH ${bpeCtes(BpeMerges)},
        |seg AS (SELECT token, len(string_split(trim(enc), '  ')) AS n_sub
        |  FROM bw$BpeMerges),
        |dt AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents),
        |sub AS (SELECT doc_id, CAST(SUM(n_sub) AS BIGINT) AS n_subword_tokens
        |  FROM dt JOIN seg USING (token) GROUP BY doc_id),
        |r AS (
        |  SELECT d.doc_id, d.n_chars,
        |    COALESCE(sub.n_subword_tokens, 0) AS n_subword_tokens,
        |    ROUND(CASE WHEN COALESCE(sub.n_subword_tokens, 0) > 0
        |      THEN CAST(d.n_chars AS DOUBLE)
        |        / CAST(sub.n_subword_tokens AS DOUBLE)
        |      ELSE 0.0 END, 9) AS chars_per_token
        |  FROM documents d LEFT JOIN sub ON d.doc_id = sub.doc_id)
        |SELECT doc_id, n_chars, n_subword_tokens, chars_per_token,
        |  chars_per_token < CAST(2.0 AS DOUBLE)
        |    OR chars_per_token > CAST(12.0 AS DOUBLE) AS flagged
        |FROM r""".stripMargin)),

    // ── Packed-sequence MASK MANIFEST — the attention-mask artifact q64's
    //    packing implies but never emitted: every (sequence, document)
    //    intersection with its token interval inside the 512-slot
    //    sequence, including documents that straddle sequence boundaries
    //    (is_head marks the segment holding the document's first token).
    //    This is the table a trainer's collator reads to build block-
    //    diagonal attention masks. Scale shape: q64's per-source exclusive
    //    prefix sum plus a ≤(n/512 + 1)-way bounded explode per doc —
    //    integer arithmetic end to end, no new shuffles.
    QueryDef(
      "q156_pack_manifest",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").cast("long").as("n"))
          .where($"n" >= 1L)
          .withColumn("cum",
            coalesce(sum($"n").over(w), lit(0L)))
          .withColumn("seq_lo", floor($"cum" / 512).cast("long"))
          .withColumn("seq_hi",
            floor(($"cum" + $"n" - 1L) / 512).cast("long"))
          .select($"doc_id", $"source", $"n", $"cum", $"seq_lo",
            explode(sequence($"seq_lo", $"seq_hi")).as("seq_id"))
          .select($"source", $"seq_id", $"doc_id",
            greatest(lit(0L), $"cum" - $"seq_id" * 512L).as("start_in_seq"),
            least(lit(512L), $"cum" + $"n" - $"seq_id" * 512L).as("end_in_seq"),
            ($"seq_lo" === $"seq_id").as("is_head"))
          .withColumn("n_cell_tokens", $"end_in_seq" - $"start_in_seq")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |      AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum
        |  FROM t WHERE n >= 1),
        |x AS (
        |  SELECT doc_id, source, n, cum, cum // 512 AS seq_lo,
        |    unnest(generate_series(cum // 512, (cum + n - 1) // 512)) AS seq_id
        |  FROM c)
        |SELECT source, seq_id, doc_id,
        |  greatest(CAST(0 AS BIGINT), cum - seq_id * 512) AS start_in_seq,
        |  least(CAST(512 AS BIGINT), cum + n - seq_id * 512) AS end_in_seq,
        |  seq_lo = seq_id AS is_head,
        |  least(CAST(512 AS BIGINT), cum + n - seq_id * 512)
        |    - greatest(CAST(0 AS BIGINT), cum - seq_id * 512) AS n_cell_tokens
        |FROM x""".stripMargin)),

    // ── Packing-efficiency frontier — q141's fill/contamination numbers
    //    swept across candidate sequence lengths (256/512/1024): the
    //    3-row table that actually DECIDES the training sequence length
    //    (longer sequences fill better but mix more documents per
    //    window). One prefix-sum pass serves all three lengths via a
    //    3-way bounded explode — the sweep costs one extra narrow column,
    //    not three corpus passes.
    QueryDef(
      "q159_packing_frontier",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").as("n_tokens"))
          .withColumn("cum_before",
            coalesce(sum($"n_tokens").over(w), lit(0L)))
        d.select($"source", $"cum_before", $"n_tokens",
            explode(array(lit(256), lit(512), lit(1024))).as("seq_len"))
          .withColumn("seq_id",
            floor($"cum_before" / $"seq_len").cast("long"))
          .groupBy($"seq_len", $"source", $"seq_id")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
          .groupBy($"seq_len")
          .agg(count(lit(1)).as("n_seqs"),
            sum($"seq_tokens").as("n_tokens"),
            sum(when($"n_docs" > 1L, 1L).otherwise(0L)).as("n_mixed"))
          .select($"seq_len", $"n_seqs", $"n_tokens",
            round($"n_mixed".cast("double") / $"n_seqs".cast("double"), 9)
              .as("mixed_share"),
            round($"n_tokens".cast("double") /
              ($"n_seqs".cast("double") * $"seq_len".cast("double")), 9)
              .as("fill_ratio"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM t),
        |lens AS (SELECT CAST(x AS INT) AS seq_len
        |  FROM (VALUES (256), (512), (1024)) v(x)),
        |seqs AS (
        |  SELECT seq_len, source, cum_before // seq_len AS seq_id,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM c CROSS JOIN lens GROUP BY 1, 2, 3)
        |SELECT seq_len, COUNT(*) AS n_seqs,
        |  CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS mixed_share,
        |  ROUND(CAST(SUM(seq_tokens) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(seq_len AS DOUBLE)), 9) AS fill_ratio
        |FROM seqs GROUP BY seq_len""".stripMargin)),

    // ── Export shard balance — the output-layout audit for
    //    [[graft.ext.TrainingExport.writeShards]]'s (split, shard) tree:
    //    per cell, docs and bytes plus the byte ratio to the split's mean
    //    shard — the skew number that decides whether trainer-side readers
    //    stall on a fat shard. Shard membership is the salted-hash
    //    property (run-independent), so the audit is one narrow projection
    //    + a 24-row agg + a broadcast mean join-back.
    QueryDef(
      "q161_shard_balance",
      (s, dir) => {
        import s.implicits._
        def h(salt: String) = pmod(TextAnalysis.hash60Fast(s,
          concat(lit(salt), $"doc_id".cast("string"))), lit(100))
        val tagged = Tables.documents(s, dir)
          .select($"doc_id", $"n_chars",
            when(h("split:") < 80, "train")
              .when(h("split:") < 90, "validation").otherwise("test")
              .as("split"),
            pmod(TextAnalysis.hash60Fast(s,
              concat(lit("shard:"), $"doc_id".cast("string"))), lit(8L))
              .cast("int").as("shard"))
        val cells = tagged.groupBy($"split", $"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_bytes"))
        val means = cells.groupBy($"split")
          .agg(sum($"n_bytes").as("tot_bytes"),
            count(lit(1)).as("n_shards"))
        cells.join(broadcast(means), "split")
          .select($"split", $"shard", $"n_docs", $"n_bytes",
            round($"n_bytes".cast("double") /
              ($"tot_bytes".cast("double") / $"n_shards".cast("double")), 9)
              .as("balance_ratio"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'validation'
        |         ELSE 'test' END AS split,
        |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS INT) AS shard
        |  FROM documents),
        |cells AS (
        |  SELECT split, shard, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_bytes
        |  FROM t GROUP BY 1, 2),
        |m AS (
        |  SELECT split, CAST(SUM(n_bytes) AS BIGINT) AS tot_bytes,
        |    COUNT(*) AS n_shards
        |  FROM cells GROUP BY 1)
        |SELECT c.split, c.shard, c.n_docs, c.n_bytes,
        |  ROUND(CAST(c.n_bytes AS DOUBLE)
        |    / (CAST(m.tot_bytes AS DOUBLE) / CAST(m.n_shards AS DOUBLE)), 9)
        |    AS balance_ratio
        |FROM cells c JOIN m ON c.split = m.split""".stripMargin)),

    // ── Truncation-loss accounting — the packing-vs-truncation decision
    //    input: per source, the share of tokens LOST if documents are
    //    hard-truncated at 512 tokens instead of packed (q64) — plus how
    //    many docs overflow at all. Pure integer arithmetic over one
    //    narrow pass; the 20-row report is what justifies the packing
    //    pipeline's complexity to a training team.
    QueryDef(
      "q162_truncation_loss",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"source",
            TextAnalysis.tokenCount($"text").cast("long").as("n"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n").as("n_tokens"),
            sum(when($"n" > 512L, 1L).otherwise(0L)).as("n_overflow"),
            sum(when($"n" > 512L, $"n" - 512L).otherwise(0L)).as("lost_tokens"))
          .withColumn("loss_share",
            round(when($"n_tokens" > 0L,
              $"lost_tokens".cast("double") / $"n_tokens".cast("double"))
              .otherwise(0.0), 9))
      },
      Some("""WITH d AS (
        |  SELECT source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |      AS n
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST(SUM(CASE WHEN n > 512 THEN n - 512 ELSE 0 END) AS BIGINT) AS lost_tokens,
        |  ROUND(CASE WHEN SUM(n) > 0
        |    THEN CAST(SUM(CASE WHEN n > 512 THEN n - 512 ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(n) AS DOUBLE)
        |    ELSE 0.0 END, 9) AS loss_share
        |FROM d GROUP BY source""".stripMargin)),

    // ── Vocabulary coverage curve — what share of corpus TOKEN INSTANCES
    //    the top-k word types cover, for k ∈ {100, 1000, 10000}: the
    //    Zipf-coverage table that sizes a word-level vocabulary (and
    //    explains why subword tokenizers exist). The word-count table is
    //    vocabulary-sized, and only ranks ≤ 10000 are consumed, so the
    //    candidate set is bounded FIRST by a top-k limit (plans as
    //    TakeOrderedAndProject — per-partition heaps of 10k, no global
    //    sort); the single-partition rank window then runs over exactly
    //    10k rows at any corpus size. The corpus contributes exactly one
    //    word-count shuffle.
    QueryDef(
      "q163_vocab_coverage",
      (s, dir) => {
        import s.implicits._
        val wc = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("tok"))
          .where($"tok" =!= "")
          .groupBy($"tok").agg(count(lit(1)).as("c"))
        val tot = wc.agg(sum($"c").as("total"), count(lit(1)).as("n_types"))
        val ranked = wc
          .orderBy($"c".desc, $"tok".asc).limit(10000)
          .withColumn("rnk",
            row_number().over(Window.orderBy($"c".desc, $"tok".asc)))
        ranked
          .select($"c", $"rnk",
            explode(array(lit(100), lit(1000), lit(10000))).as("k"))
          .where($"rnk" <= $"k")
          .groupBy($"k")
          .agg(sum($"c").as("covered_tokens"))
          .crossJoin(broadcast(tot))
          .select($"k", $"covered_tokens", $"total".as("total_tokens"),
            $"n_types",
            round($"covered_tokens".cast("double") / $"total".cast("double"), 9)
              .as("coverage"))
      },
      Some("""WITH t AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |wc AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(w) AS tok FROM t) WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
        |  COUNT(*) AS n_types FROM wc),
        |r AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rnk
        |  FROM wc),
        |ks AS (SELECT CAST(x AS INT) AS k
        |  FROM (VALUES (100), (1000), (10000)) v(x)),
        |cov AS (
        |  SELECT k, CAST(SUM(c) AS BIGINT) AS covered_tokens
        |  FROM r CROSS JOIN ks WHERE rnk <= k GROUP BY k)
        |SELECT k, covered_tokens, tot.total AS total_tokens, tot.n_types,
        |  ROUND(CAST(covered_tokens AS DOUBLE) / CAST(tot.total AS DOUBLE), 9)
        |    AS coverage
        |FROM cov CROSS JOIN tot""".stripMargin)),

    // ── Nearest-centroid separation MARGIN — the label-quality eval q97's
    //    accuracy rounds off: accuracy says WHETHER a vector lands on its
    //    own label centroid; the margin (sim-to-own − best-sim-to-other)
    //    says BY HOW MUCH, and the per-label margin distribution is the
    //    signal behind label-noise triage (near-zero margins = boundary
    //    vectors worth auditing) and embedding-quality tracking across
    //    retrains. Same broadcast-k-centroids substrate as q97 (label
    //    cell means, exact decimal dots, 9-decimal-rounded cosines — the
    //    margin is a DIFFERENCE OF TWO IDENTICALLY-ROUNDED doubles, so it
    //    is itself cross-engine exact); per-label rollup: n, separated
    //    count (margin > 0), min margin, and the tavg fixed-point mean
    //    (no float-order risk). One corpus scan, k² centroid pairs never
    //    materialize — the "other" side is max_by over the same broadcast.
    QueryDef(
      "q299_centroid_margin",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.dotExact
        val emb = Tables.embeddings(s, dir)
        val cells = emb
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(QueryDef.tavg($"v".cast("double")).as("cv"))
        val cents = cells.groupBy($"label")
          .agg(transform(array_sort(collect_list(struct($"dim", $"cv"))),
            _.getField("cv")).as("ce"))
          .withColumn("cn2", dotExact($"ce", $"ce"))
          .select($"label".as("clabel"), $"ce", $"cn2")
        val e = emb
          .select($"vec_id", $"label",
            transform($"embedding", x => x.cast("double")).as("emb"))
          .withColumn("n2", dotExact($"emb", $"emb"))
        val margins = e.join(broadcast(cents))
          .select($"vec_id", $"label", $"clabel",
            Similarity.cosine(dotExact($"emb", $"ce"), $"n2", $"cn2")
              .as("sim"))
          .groupBy($"vec_id")
          .agg(min($"label").as("label"),
            max(when($"clabel" === $"label", $"sim")).as("own_sim"),
            max(when($"clabel" =!= $"label", $"sim")).as("other_sim"))
          .select($"vec_id", $"label",
            ($"own_sim" - $"other_sim").as("margin"))
        margins.groupBy($"label")
          .agg(count(lit(1)).as("n"),
            sum(when($"margin" > 0.0, 1L).otherwise(0L)).as("n_separated"),
            min($"margin").as("margin_min"),
            QueryDef.tavg($"margin").as("margin_avg"))
          .withColumn("sep_frac",
            round($"n_separated".cast("double") / $"n".cast("double"), 9))
      },
      Some(s"""WITH t AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |cells AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim,
        |    ${QueryDef.tavgSql("CAST(embedding[i] AS DOUBLE)")} AS cv
        |  FROM t GROUP BY 1, 2),
        |cents AS MATERIALIZED (
        |  SELECT label AS clabel, list(cv ORDER BY dim) AS ce
        |  FROM cells GROUP BY 1),
        |cn AS (
        |  SELECT clabel, ${dotSql("ce", "ce")} AS cn2
        |  FROM (SELECT clabel, ce, unnest(generate_series(1, len(ce))) AS i
        |    FROM cents)
        |  GROUP BY clabel, ce),
        |e AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, ${dotSql("emb", "emb")} AS n2
        |  FROM (SELECT vec_id, emb,
        |      unnest(generate_series(1, len(emb))) AS i FROM e)
        |  GROUP BY vec_id, emb),
        |dots AS (
        |  SELECT vec_id, clabel, ${dotSql("emb", "ce")} AS dot
        |  FROM (SELECT e.vec_id, e.emb, c.clabel, c.ce,
        |      unnest(generate_series(1, len(e.emb))) AS i
        |    FROM e CROSS JOIN cents c)
        |  GROUP BY vec_id, emb, clabel, ce),
        |scored AS (
        |  SELECT d.vec_id, d.clabel,
        |    ROUND(CASE WHEN v.n2 > 0 AND c.cn2 > 0
        |      THEN d.dot / (sqrt(v.n2) * sqrt(c.cn2)) ELSE 0.0 END, 9) AS sim
        |  FROM dots d JOIN n2 v ON d.vec_id = v.vec_id
        |    JOIN cn c ON d.clabel = c.clabel),
        |mg AS (
        |  SELECT s.vec_id, e.label,
        |    MAX(CASE WHEN s.clabel = e.label THEN s.sim END)
        |      - MAX(CASE WHEN s.clabel <> e.label THEN s.sim END) AS margin
        |  FROM scored s JOIN e ON s.vec_id = e.vec_id
        |  GROUP BY 1, 2)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN margin > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_separated,
        |  MIN(margin) AS margin_min,
        |  ${QueryDef.tavgSql("margin")} AS margin_avg,
        |  ROUND(CAST(SUM(CASE WHEN margin > 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS sep_frac
        |FROM mg GROUP BY 1""".stripMargin))
  )
}
