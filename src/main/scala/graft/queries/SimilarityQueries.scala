package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries over the `embeddings` table
  * (array<float>, dim 64). Exact cosine kernels use the decimal-sum trick
  * so Spark and DuckDB agree bit-for-bit.
  */
object SimilarityQueries {

  /** Oracle fragment: exact decimal dot of two list columns over index i. */
  private def dotSql(a: String, b: String) =
    s"CAST(SUM(CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE)"

  /** Session-scoped cache of the multi-table LSH band substrate: the
    * checkpointed embedding scan plus its 3×8-plane (table, bucket) rows,
    * consumed by q61 (global near-dup), q145 (semantic split leakage),
    * q149 (kNN graph) and q151 (semantic clusters). Deterministic derived
    * artifact of the corpus — computed once per SparkContext + corpus key
    * (the materialized-view posture of [[graft.ext.Dedup.minhashSubstrateCached]];
    * at cluster scale this is a bucketed table maintained alongside the
    * embeddings). Bench attribution: benched as its own named line
    * (q00e_sub_lshbands, [[graft.Substrates]]); consumers measure warm.
    */
  private val lshBandsCache = graft.SessionCaches
    .memo[String, (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]("q00e_sub_lshbands")

  private[graft] def lshBandsCached(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val app = s.sparkContext.applicationId
    lshBandsCache.getOrElseUpdate((app, dir), {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        .localCheckpoint()
      val tables = (0 until LshTables).map { t =>
        struct(lit(t).as("table_id"),
          Similarity.lshSignatureFast(s, $"embedding", LshTablePlanes,
            planeOffset = t * LshTablePlanes).as("bucket"))
      }
      val bands = e
        .select($"vec_id", explode(array(tables: _*)).as("band"))
        .select($"vec_id", $"band.table_id", $"band.bucket")
        .localCheckpoint()
      (e, bands)
    })
  }

  /** Session-scoped cache of the ranked kNN edge list (top-3 LSH-candidate
    * neighbors per vector, exact-rescored) — the shared artifact of q149
    * (graph emission) and q151 (cluster discovery). Benched as its own
    * named line (q00f_sub_knnedges, [[graft.Substrates]]).
    */
  private val knnEdgesCache = graft.SessionCaches
    .memo[String, org.apache.spark.sql.DataFrame]("q00f_sub_knnedges")

  private[graft] def knnEdgesCached(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val app = s.sparkContext.applicationId
    knnEdgesCache.getOrElseUpdate((app, dir), {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.cosineSimExact
      val (e, bands) = lshBandsCached(s, dir)
      val cand = bands.select($"vec_id".as("src"), $"table_id", $"bucket")
        .join(bands.select($"vec_id".as("dst"), $"table_id", $"bucket"),
          Seq("table_id", "bucket"))
        .where($"src" =!= $"dst")
        .select($"src", $"dst").distinct()
      val scored = cand
        .join(e.select($"vec_id".as("src"), $"embedding".as("ea")), "src")
        .join(e.select($"vec_id".as("dst"), $"embedding".as("eb")), "dst")
        .select($"src", $"dst", cosineSimExact($"ea", $"eb").as("cos"))
      val bySrc = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
      scored
        .withColumn("rank", row_number().over(bySrc).cast("int"))
        .where($"rank" <= 3)
        .localCheckpoint()
    })
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Brute-force exact top-k cosine neighbors for a small query set:
    //    the correctness baseline. Queries broadcast; candidates stream.
    QueryDef(
      "q40_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id".as("id"), $"embedding")
        Similarity.bruteForceTopK(e.where($"id" < 5), e, k = 10)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
        |terms AS (
        |  SELECT qid, cid, qe, ce, unnest(generate_series(1, len(qe))) AS i
        |  FROM q CROSS JOIN c WHERE qid <> cid),
        |dots AS (
        |  SELECT qid, cid,
        |    ${dotSql("qe", "ce")} AS dot,
        |    ${dotSql("qe", "qe")} AS qn2,
        |    ${dotSql("ce", "ce")} AS cn2
        |  FROM terms GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid AS query_id, cid AS cand_id,
        |    ROUND(CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2))
        |         ELSE 0.0 END, 9) AS cosine_sim
        |  FROM dots)
        |SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine_sim DESC, cand_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin)),

    // ── Embedding near-dup pairs, blocked by label (pairwise only inside
    //    blocks; the global path would LSH-bucket first, as in q42).
    QueryDef(
      "q41_embedding_near_dup",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.cosineSimExact
        // written in the NAIVE exact form on purpose: the CosinePrefilter
        // optimizer rule injects the fast-double margin prefilter under
        // this threshold automatically (PlanShapeSpec asserts it), so the
        // exact decimal kernel only runs near the decision boundary — the
        // hand-written two-phase version this replaces lives on in q40/q45
        // as the precomputed-norm pattern
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"label", $"embedding")
        val a = e.select($"vec_id".as("vec_a"), $"label", $"embedding".as("ea"))
        val b = e.select($"vec_id".as("vec_b"), $"label", $"embedding".as("eb"))
        a.join(b, Seq("label"))
          .where($"vec_a" < $"vec_b")
          .select($"vec_a", $"vec_b", $"label",
            cosineSimExact($"ea", $"eb").as("cosine_sim"))
          .where($"cosine_sim" >= 0.4)
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |terms AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
        |    a.embedding AS ea, b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        |dots AS (
        |  SELECT vec_a, vec_b, label,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM terms GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT vec_a, vec_b, label,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS cosine_sim
        |  FROM dots)
        |SELECT * FROM scored WHERE cosine_sim >= 0.4""".stripMargin)),

    // ── Random-hyperplane LSH bucketing (the ANN scale path): 12-plane
    //    sign signature per vector; buckets become equi-join keys.
    QueryDef(
      "q42_lsh_buckets",
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir)
          .select($"vec_id",
            Similarity.lshSignatureFast(s, $"embedding", nPlanes = 12)
              .as("signature"))
          .groupBy($"signature")
          .agg(count(lit(1)).as("n_vectors"), min($"vec_id").as("min_vec_id"))
      },
      Some {
        val sig = (0 until 12).map(p => s"b$p").mkString(" || ")
        s"""WITH terms AS (
        |  SELECT vec_id, embedding AS e,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id,
        |    ${planeBitsSql(12)}
        |  FROM terms GROUP BY 1),
        |sigs AS (SELECT vec_id, $sig AS signature FROM bits)
        |SELECT signature, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
        |FROM sigs GROUP BY 1""".stripMargin
      }),

    // ── GLOBAL embedding near-dup — the scale path that removes q41's
    //    label-blocking: L=3 hyperplane-LSH tables of 8 planes each;
    //    candidates = any shared (table, bucket), a plain keyed equi-join
    //    (the OR-of-tables construction recovers recall a single signature
    //    loses); exact decimal rescore only on the candidate set,
    //    pairs-first (embeddings joined back to ids, never carried through
    //    the explode). No label column needed — this is how the pairwise
    //    stage survives a label whose block explodes.
    QueryDef(
      "q61_lsh_near_dup",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.cosineSimExact
        // the embedding scan feeds three consumers (band build + both
        // rescore joins) and the 24-plane band substrate feeds both sides
        // of the candidate self-join — materialized ONCE per session via
        // the shared cache, matching the q36 (DedupQueries) / q59
        // (TrainingDataQueries) substrate posture
        val (e, bands) = lshBandsCached(s, dir)
        val cand = bands.select($"vec_id".as("vec_a"), $"table_id", $"bucket")
          .join(bands.select($"vec_id".as("vec_b"), $"table_id", $"bucket"),
            Seq("table_id", "bucket"))
          .where($"vec_a" < $"vec_b")
          .select($"vec_a", $"vec_b").distinct()
        cand
          .join(e.select($"vec_id".as("vec_a"), $"embedding".as("ea")), "vec_a")
          .join(e.select($"vec_id".as("vec_b"), $"embedding".as("eb")), "vec_b")
          .select($"vec_a", $"vec_b",
            cosineSimExact($"ea", $"eb").as("cosine_sim"))
          .where($"cosine_sim" >= 0.4)
      },
      Some {
        val perTable = (0 until LshTables).map { t =>
          val sig = (t * LshTablePlanes until (t + 1) * LshTablePlanes)
            .map(p => s"b$p").mkString(" || ")
          s"SELECT vec_id, $t AS table_id, $sig AS bucket FROM bits"
        }.mkString("\n  UNION ALL ")
        s"""WITH terms AS (
        |  SELECT vec_id, embedding AS e,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |bits AS MATERIALIZED (
        |  SELECT vec_id,
        |    ${planeBitsSql(LshTables * LshTablePlanes)}
        |  FROM terms GROUP BY 1),
        |bands AS (
        |  $perTable),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bands a JOIN bands b
        |    ON a.table_id = b.table_id AND a.bucket = b.bucket
        |      AND a.vec_id < b.vec_id),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |rterms AS (
        |  SELECT vec_a, vec_b, a.embedding AS ea, b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM cand JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id),
        |dots AS (
        |  SELECT vec_a, vec_b,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM rterms GROUP BY vec_a, vec_b, ea, eb),
        |scored AS (
        |  SELECT vec_a, vec_b,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS cosine_sim
        |  FROM dots)
        |SELECT * FROM scored WHERE cosine_sim >= 0.4""".stripMargin
      }),

    // ── Hybrid retrieval — the RAG-serving pattern: a LEXICAL gate
    //    (keyword containment over the documents table) prunes the
    //    candidate set, then the vector side reranks only the survivors by
    //    exact cosine top-k. The embedding join is a keyed equi-join on
    //    the shared id, the lexical filter is a narrow scan-side
    //    predicate, and the rerank inherits q40's broadcast-queries /
    //    streaming-candidates shape — so the expensive kernel runs on the
    //    filtered subset only. At 100 TB the lexical gate is an index or
    //    pushed-down predicate and the rerank path is unchanged.
    QueryDef(
      "q72_hybrid_search",
      (s, dir) => {
        import s.implicits._
        val lex = Tables.documents(s, dir)
          .where(array_contains(
            graft.ext.TextAnalysis.tokens($"text"), "spark"))
          .select($"doc_id")
        val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val cands = e.join(lex, e("vec_id") === lex("doc_id"))
          .select($"vec_id".as("id"), $"embedding")
        Similarity.bruteForceTopK(
          e.where($"vec_id" < 5).select($"vec_id".as("id"), $"embedding"),
          cands, k = 10)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |lex AS (SELECT doc_id FROM documents
        |  WHERE list_contains(CASE WHEN length(trim(text)) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(lower(trim(text)), '\\s+') END, 'spark')),
        |c AS (SELECT vec_id AS cid, embedding AS ce
        |  FROM embeddings JOIN lex ON vec_id = doc_id),
        |terms AS (
        |  SELECT qid, cid, qe, ce, unnest(generate_series(1, len(qe))) AS i
        |  FROM q CROSS JOIN c WHERE qid <> cid),
        |dots AS (
        |  SELECT qid, cid,
        |    ${dotSql("qe", "ce")} AS dot,
        |    ${dotSql("qe", "qe")} AS qn2,
        |    ${dotSql("ce", "ce")} AS cn2
        |  FROM terms GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid AS query_id, cid AS cand_id,
        |    ROUND(CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2))
        |         ELSE 0.0 END, 9) AS cosine_sim
        |  FROM dots)
        |SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine_sim DESC, cand_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin)),

    // ── Reciprocal-rank fusion (Cormack et al., SIGIR'09) over the q72
    //    hybrid candidates: the lexical list ranks the gated docs by
    //    keyword term-frequency, the vector list ranks them by exact
    //    cosine per query, and the fused score is the classic
    //    1/(k+r_lex) + 1/(k+r_vec) with k = 60. Both addends are single
    //    correctly-rounded IEEE divisions of integer ranks, so the double
    //    is bit-identical across engines with no rounding step. Scale
    //    shape: every ranking window runs over the GATED candidate set
    //    (bounded by the keyword's document frequency, not the corpus —
    //    the lexical rank's global window included); the per-query vector
    //    ranking inherits q40's broadcast-queries / streaming-candidates
    //    plan. At 100 TB the gate is a pushed-down predicate or inverted
    //    index and the fusion join stays candidate-sized.
    QueryDef(
      "q77_rrf_fusion",
      (s, dir) => {
        import s.implicits._
        val lex = Tables.documents(s, dir)
          .select($"doc_id",
            size(filter(graft.ext.TextAnalysis.tokens($"text"),
              t => t === "spark")).as("tf"))
          .where($"tf" > 0)
        // the ranked lexical list feeds the candidate gate AND the fusion
        // join; recomputing the narrow tf scan for both consumers measured
        // cheaper than a checkpoint's job barrier (the q68/q76 lesson)
        val lexRank = lex
          .withColumn("lex_rank",
            row_number().over(Window.orderBy($"tf".desc, $"doc_id".asc))
              .cast("int"))
        val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val cands = e.join(lexRank, e("vec_id") === lexRank("doc_id"))
          .select($"vec_id".as("id"), $"embedding")
        val vecRank = Similarity.bruteForceTopK(
          e.where($"vec_id" < 5).select($"vec_id".as("id"), $"embedding"),
          cands, k = Int.MaxValue)
          .select($"query_id", $"cand_id", $"rank".cast("int").as("vec_rank"))
        val byQuery = Window.partitionBy($"query_id")
          .orderBy($"rrf_score".desc, $"cand_id".asc)
        vecRank
          .join(lexRank.select($"doc_id", $"lex_rank"),
            $"cand_id" === $"doc_id")
          .select($"query_id", $"cand_id", $"lex_rank", $"vec_rank",
            (lit(1.0) / ($"lex_rank" + 60) + lit(1.0) / ($"vec_rank" + 60))
              .as("rrf_score"))
          .withColumn("fused_rank", row_number().over(byQuery).cast("int"))
          .where($"fused_rank" <= 10)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |lex AS (
        |  SELECT doc_id, len(list_filter(CASE WHEN length(trim(text)) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(lower(trim(text)), '\\s+') END,
        |    x -> x = 'spark')) AS tf
        |  FROM documents),
        |lexr AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id ASC) AS INT) AS lex_rank
        |  FROM lex WHERE tf > 0),
        |c AS (SELECT vec_id AS cid, embedding AS ce
        |  FROM embeddings JOIN lexr ON vec_id = doc_id),
        |terms AS (
        |  SELECT qid, cid, qe, ce, unnest(generate_series(1, len(qe))) AS i
        |  FROM q CROSS JOIN c WHERE qid <> cid),
        |dots AS (
        |  SELECT qid, cid,
        |    ${dotSql("qe", "ce")} AS dot,
        |    ${dotSql("qe", "qe")} AS qn2,
        |    ${dotSql("ce", "ce")} AS cn2
        |  FROM terms GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid AS query_id, cid AS cand_id,
        |    ROUND(CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2))
        |         ELSE 0.0 END, 9) AS cosine_sim
        |  FROM dots),
        |vr AS (
        |  SELECT query_id, cand_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine_sim DESC, cand_id ASC) AS INT) AS vec_rank
        |  FROM scored),
        |f AS (
        |  SELECT query_id, cand_id, lex_rank, vec_rank,
        |    CAST(1 AS DOUBLE) / (lex_rank + 60) +
        |      CAST(1 AS DOUBLE) / (vec_rank + 60) AS rrf_score
        |  FROM vr JOIN lexr ON cand_id = doc_id)
        |SELECT query_id, cand_id, lex_rank, vec_rank, rrf_score,
        |  CAST(fr AS INT) AS fused_rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, cand_id ASC) AS fr
        |  FROM f)
        |WHERE fr <= 10""".stripMargin)),

    // ── Per-vector int8 affine quantization — the embedding STORAGE
    //    operator (4× smaller vectors for ANN serving): q_i = round((x_i −
    //    min) / scale) with scale = (max − min)/255, written as
    //    floor(z + 0.5) because floor is bit-deterministic in every engine
    //    while round-on-double is library-defined. All arithmetic is
    //    correctly-rounded IEEE doubles of exact float inputs, so both
    //    engines emit identical codes. min/max/scale are materialized as
    //    columns BEFORE the per-element lambda (an expression referenced
    //    inside transform() re-evaluates per element). Scale shape: a pure
    //    narrow map — zero exchanges, trivially 100 TB-parallel.
    QueryDef(
      "q81_int8_quant",
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir)
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("emb"))
          .select($"vec_id", $"emb",
            array_min($"emb").as("v_min"), array_max($"emb").as("v_max"))
          .withColumn("scale", ($"v_max" - $"v_min") / 255.0)
          .withColumn("qv", transform($"emb", x =>
            when($"scale" > 0.0, floor((x - $"v_min") / $"scale" + 0.5))
              .otherwise(0.0).cast("int")))
          .select($"vec_id", $"v_min", $"v_max",
            size($"qv").as("n_dims"),
            element_at($"qv", 1).as("first_q"),
            aggregate($"qv", lit(0L), (a, x) => a + x).as("sum_q"))
      },
      Some("""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, emb, list_min(emb) AS v_min, list_max(emb) AS v_max
        |  FROM e),
        |sc AS (SELECT *,
        |    (v_max - v_min) / CAST(255 AS DOUBLE) AS scale FROM st),
        |q AS (
        |  SELECT vec_id, v_min, v_max,
        |    list_transform(emb, x -> CAST(CASE WHEN scale > 0
        |      THEN floor((x - v_min) / scale + CAST(0.5 AS DOUBLE))
        |      ELSE 0.0 END AS INT)) AS qv
        |  FROM sc)
        |SELECT vec_id, v_min, v_max, CAST(len(qv) AS INT) AS n_dims,
        |  qv[1] AS first_q,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q
        |FROM q""".stripMargin)),

    // ── BM25 ranked retrieval (Robertson/Sparck Jones) — the lexical
    //    scoring function production search stacks run, completing the
    //    retrieval family (tf-idf q73, hybrid q72, RRF q77). Standard
    //    k1 = 1.2, b = 0.75 saturation/length-normalization; the idf is the
    //    LINEAR variant (N/df — one integer-derived division) for the same
    //    reason as q73: ln() is libm-dependent, the ranking semantics
    //    (rare terms weigh more) are unchanged. Each per-term score is a
    //    fixed tree of correctly-rounded IEEE double ops (identical in both
    //    engines), then floor-truncated at 1e-9 ([[graft.QueryDef.tavg]]'s
    //    trick) so the per-doc SUM runs in exact integer space — ranking
    //    ties are impossible to get wrong cross-engine. Scale shape: one
    //    token explode filtered to the query terms (narrow), a (doc, term)
    //    keyed agg, df re-aggregated from it (never a second corpus pass),
    //    a 1-row corpus-stats frame broadcast, and a TakeOrderedAndProject
    //    top-20 — no corpus-sized shuffle beyond the tf agg.
    QueryDef(
      "q83_bm25",
      (s, dir) => {
        import s.implicits._
        val terms = Seq("dup", "vector", "hash")
        val docs = Tables.documents(s, dir)
        val dl = docs.select($"doc_id",
          graft.ext.TextAnalysis.tokenCount($"text").cast("long").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("dl_sum"))
        val tf = docs
          .select($"doc_id", explode(graft.ext.TextAnalysis.tokens($"text")).as("term"))
          .where($"term".isin(terms: _*))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(df), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select($"doc_id",
            floor((($"n_docs".cast("double") / $"df".cast("double")) *
              (($"tf".cast("double") * lit(2.2)) /
                ($"tf".cast("double") + lit(1.2) * (lit(0.25) +
                  lit(0.75) * ($"dl".cast("double") /
                    ($"dl_sum".cast("double") / $"n_docs".cast("double")))))))
              * lit(1e9)).cast("long").as("s9"))
        val perDoc = scored.groupBy($"doc_id")
          .agg(sum($"s9").as("s9"), count(lit(1)).as("n_terms"))
        // top-k FIRST (TakeOrderedAndProject — the scale-safe reduction);
        // the rank window then runs over 20 rows, not the corpus
        perDoc.orderBy($"s9".desc, $"doc_id".asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy($"s9".desc, $"doc_id".asc)).cast("int"))
          .select($"doc_id", ($"s9".cast("double") / lit(1e9)).as("bm25"),
            $"n_terms".cast("int").as("n_terms"), $"rank")
      },
      Some("""WITH tk AS (
        |  SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(lower(trim(text)), '\s+') END) AS term
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) END AS dl
        |  FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS dl_sum FROM dl),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |  WHERE term IN ('dup', 'vector', 'hash') GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(((CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
        |      ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
        |       (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
        |        CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) /
        |          (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) * 1e9)
        |      AS BIGINT) AS s9
        |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |pd AS (SELECT doc_id, CAST(SUM(s9) AS BIGINT) AS s9,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms FROM sc GROUP BY 1)
        |SELECT doc_id, CAST(s9 AS DOUBLE) / 1e9 AS bm25,
        |  CAST(n_terms AS INT) AS n_terms,
        |  CAST(ROW_NUMBER() OVER (ORDER BY s9 DESC, doc_id ASC) AS INT) AS rank
        |FROM pd ORDER BY s9 DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // ── Per-dimension embedding drift monitoring — the MLOps check a
    //    vector pipeline runs between ingestion epochs: per-dim means of
    //    the "old" vs "new" snapshot (vec_id parity is the deterministic
    //    epoch stand-in), their delta, and a drift flag. A shifted
    //    embedding model, a broken normalizer, or a corrupted batch shows
    //    up as per-dim mean displacement before any downstream ANN quality
    //    metric moves. Means use the floor-1e9 fixed-point construction
    //    (conditional tavg inlined per snapshot) so both engines agree
    //    bit-for-bit. Scale shape: ONE posexplode pass + one dim-keyed agg
    //    (64 groups, partial-agg'd map-side) — monitoring cost is a single
    //    corpus scan regardless of corpus size.
    QueryDef(
      "q93_embed_drift",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", posexplode($"embedding").as(Seq("dim", "v")))
          .select($"dim".cast("int").as("dim"),
            ($"vec_id" % 2 === 0).as("is_old"), $"v".cast("double").as("v"))
        def cmean(cond: org.apache.spark.sql.Column) =
          (sum(when(cond, floor($"v" * lit(1e9)).cast("long"))).cast("double")
            / lit(1e9)) / sum(when(cond, 1L).otherwise(0L))
        e.groupBy($"dim")
          .agg(
            sum(when($"is_old", 1L).otherwise(0L)).as("n_old"),
            sum(when(!$"is_old", 1L).otherwise(0L)).as("n_new"),
            cmean($"is_old").as("mean_old"),
            cmean(!$"is_old").as("mean_new"))
          .withColumn("delta", $"mean_new" - $"mean_old")
          .withColumn("drifted", abs($"delta") > lit(0.02))
      },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS v,
        |    vec_id % 2 = 0 AS is_old
        |  FROM (SELECT vec_id, embedding,
        |      unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
        |agg AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    (CAST(SUM(CASE WHEN is_old THEN CAST(floor(v * 1e9) AS BIGINT) END) AS DOUBLE)
        |      / 1e9) / SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS mean_old,
        |    (CAST(SUM(CASE WHEN NOT is_old THEN CAST(floor(v * 1e9) AS BIGINT) END) AS DOUBLE)
        |      / 1e9) / SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS mean_new
        |  FROM e GROUP BY 1)
        |SELECT dim, n_old, n_new, mean_old, mean_new,
        |  mean_new - mean_old AS delta,
        |  abs(mean_new - mean_old) > CAST(0.02 AS DOUBLE) AS drifted
        |FROM agg""".stripMargin)),

    // ── SEMANTIC split leakage — q114's contamination check in embedding
    //    space: vectors split train/val by the salted 60-bit hash (10%
    //    val), then every val vector reports the max exact cosine to any
    //    TRAIN vector sharing one of q61's 3×8-plane LSH buckets — the
    //    paraphrase-level leakage lexical shingles (q114) can't see.
    //    Scale shape: the banded substrate is built once and the
    //    candidate join is keyed (table, bucket) with the val side ~10%
    //    of the corpus — never val × train; the per-val max is a max_by
    //    partial agg (1 row/val pre-shuffle), not a window.
    QueryDef(
      "q145_semantic_leakage",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.cosineSimExact
        // split membership is a pure function of vec_id, so the SHARED band
        // substrate serves both sides — the flag is a codegen'd predicate,
        // not a column the cache would have to carry
        def isTrain(c: org.apache.spark.sql.Column) =
          pmod(graft.ext.TextAnalysis.hash60Fast(s,
            concat(lit("esplit:"), c.cast("string"))), lit(100)) < 90
        val (e, bands) = lshBandsCached(s, dir)
        val cand = bands.where(!isTrain($"vec_id"))
          .select($"vec_id".as("val_id"), $"table_id", $"bucket")
          .join(bands.where(isTrain($"vec_id"))
            .select($"vec_id".as("train_id"), $"table_id", $"bucket"),
            Seq("table_id", "bucket"))
          .select($"val_id", $"train_id").distinct()
        val scored = cand
          .join(e.select($"vec_id".as("val_id"), $"embedding".as("ev")), "val_id")
          .join(e.select($"vec_id".as("train_id"), $"embedding".as("et")),
            "train_id")
          .select($"val_id", $"train_id",
            cosineSimExact($"ev", $"et").as("cos"))
        val best = scored.groupBy($"val_id")
          .agg(max_by($"train_id", struct($"cos", -$"train_id"))
            .as("nn_train_id"),
            max($"cos").as("max_cos"))
        e.where(!isTrain($"vec_id")).select($"vec_id".as("val_id"))
          .join(best, Seq("val_id"), "left")
          .select($"val_id",
            coalesce($"nn_train_id", lit(-1L)).as("nn_train_id"),
            coalesce($"max_cos", lit(0.0)).as("max_cos"))
          .withColumn("leaked", $"max_cos" >= 0.8)
      },
      Some {
        val perTable = (0 until LshTables).map { t =>
          val sig = (t * LshTablePlanes until (t + 1) * LshTablePlanes)
            .map(p => s"b$p").mkString(" || ")
          s"SELECT vec_id, $t AS table_id, $sig AS bucket FROM bits"
        }.mkString("\n  UNION ALL ")
        s"""WITH sp AS (
        |  SELECT vec_id, embedding,
        |    ('0x' || substr(md5('esplit:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 AS is_train
        |  FROM embeddings),
        |terms AS (
        |  SELECT vec_id, embedding AS e,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |bits AS MATERIALIZED (
        |  SELECT vec_id,
        |    ${planeBitsSql(LshTables * LshTablePlanes)}
        |  FROM terms GROUP BY 1),
        |bands AS (
        |  $perTable),
        |cand AS (
        |  SELECT DISTINCT v.vec_id AS val_id, t.vec_id AS train_id
        |  FROM (SELECT b.* FROM bands b JOIN sp USING (vec_id)
        |        WHERE NOT sp.is_train) v
        |  JOIN (SELECT b.* FROM bands b JOIN sp USING (vec_id)
        |        WHERE sp.is_train) t
        |    ON v.table_id = t.table_id AND v.bucket = t.bucket),
        |rterms AS (
        |  SELECT val_id, train_id, a.embedding AS ev, b.embedding AS et,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM cand JOIN sp a ON val_id = a.vec_id
        |    JOIN sp b ON train_id = b.vec_id),
        |dots AS (
        |  SELECT val_id, train_id,
        |    ${dotSql("ev", "et")} AS dot,
        |    ${dotSql("ev", "ev")} AS na,
        |    ${dotSql("et", "et")} AS nb
        |  FROM rterms GROUP BY val_id, train_id, ev, et),
        |scored AS (
        |  SELECT val_id, train_id,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS cos
        |  FROM dots),
        |best AS (
        |  SELECT val_id, train_id AS nn_train_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY val_id
        |      ORDER BY cos DESC, train_id ASC) AS rn
        |  FROM scored)
        |SELECT v.vec_id AS val_id,
        |  COALESCE(b.nn_train_id, -1) AS nn_train_id,
        |  COALESCE(b.cos, CAST(0.0 AS DOUBLE)) AS max_cos,
        |  COALESCE(b.cos, CAST(0.0 AS DOUBLE)) >= CAST(0.8 AS DOUBLE) AS leaked
        |FROM (SELECT vec_id FROM sp WHERE NOT is_train) v
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON v.vec_id = b.val_id""".stripMargin
      }),

    // ── MMR-diversified top-k — relevance-only top-k (q40) returns
    //    near-duplicates of each other; maximal marginal relevance greedily
    //    picks argmax(λ·rel − (1−λ)·max-sim-to-selected), λ=0.5, k=10 from
    //    the top-50 relevance pool. The pool build and both cosine kernels
    //    are distributed (broadcast query, exact decimal dots); the greedy
    //    loop itself is scalar control flow over the CONSTANT-size pool
    //    artifact (k² sims, same posture as the BPE trainer's per-round
    //    argmax) — pool size never grows with the corpus. Selection
    //    compares RAW doubles (identical IEEE values in both engines);
    //    round-9 is display-only.
    QueryDef(
      "q148_mmr_diverse",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.cosineSimExact
        val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val q = e.where($"vec_id" === 0L).select($"embedding".as("qe"))
        val pool = e.where($"vec_id" =!= 0L)
          .crossJoin(broadcast(q))
          .select($"vec_id", $"embedding",
            cosineSimExact($"embedding", $"qe").as("rel"))
          .orderBy($"rel".desc, $"vec_id".asc).limit(50)
          .localCheckpoint()
        val sims = pool.select($"vec_id".as("a"), $"embedding".as("ea"))
          .join(pool.select($"vec_id".as("b"), $"embedding".as("eb")),
            $"a" =!= $"b")
          .select($"a", $"b", cosineSimExact($"ea", $"eb").as("sim"))
        val relMap = pool.select($"vec_id", $"rel").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val simMap = sims.collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val remaining = scala.collection.mutable.SortedSet(relMap.keys.toSeq: _*)
        var selected = Vector.empty[(Long, Double, Double)]
        for (_ <- 1 to 10 if remaining.nonEmpty) {
          val (id, sc) = remaining.toSeq.map { c =>
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.map(sel => simMap((c, sel._1))).max
            (c, 0.5 * relMap(c) - 0.5 * maxSim)
          }.minBy { case (c, sc) => (-sc, c) }
          selected :+= ((id, relMap(id), sc))
          remaining -= id
        }
        // floor-1e9 fixed point, not round-9: HALF_UP over the exact binary
        // expansion and DuckDB's double-math ROUND disagree on half-ulp
        // values; floor(x*1e9) is one identical IEEE op in both engines
        selected.zipWithIndex
          .map { case ((id, rl, sc), i) =>
            (i + 1, id, rl, math.floor(sc * 1e9) / 1e9)
          }
          .toDF("rank", "vec_id", "rel", "mmr_score")
      },
      Some {
        val rounds = (2 to 10).map { r =>
          s"""cand$r AS (
             |  SELECT p.vec_id, p.rel,
             |    CAST(0.5 AS DOUBLE) * p.rel - CAST(0.5 AS DOUBLE) * MAX(s.sim) AS sc
             |  FROM pool p JOIN sims s ON s.a = p.vec_id
             |    AND s.b IN (SELECT vec_id FROM selall${r - 1})
             |  WHERE p.vec_id NOT IN (SELECT vec_id FROM selall${r - 1})
             |  GROUP BY p.vec_id, p.rel),
             |pick$r AS (SELECT vec_id, rel, sc FROM cand$r
             |  ORDER BY sc DESC, vec_id LIMIT 1),
             |selall$r AS MATERIALIZED (SELECT * FROM selall${r - 1}
             |  UNION ALL SELECT vec_id, rel, sc, $r AS rank FROM pick$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |terms AS (
        |  SELECT vec_id, embedding, qe,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM c CROSS JOIN q),
        |dots AS (
        |  SELECT vec_id,
        |    ${dotSql("embedding", "qe")} AS dot,
        |    ${dotSql("embedding", "embedding")} AS n2,
        |    ${dotSql("qe", "qe")} AS qn2
        |  FROM terms GROUP BY vec_id, embedding, qe),
        |pool AS MATERIALIZED (
        |  SELECT d.vec_id, c.embedding,
        |    ROUND(CASE WHEN n2 > 0 AND qn2 > 0 THEN dot / (sqrt(n2) * sqrt(qn2))
        |         ELSE 0.0 END, 9) AS rel
        |  FROM dots d JOIN c ON d.vec_id = c.vec_id
        |  ORDER BY rel DESC, d.vec_id ASC LIMIT 50),
        |pterms AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b, a.embedding AS ea,
        |    b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        |pdots AS (
        |  SELECT a, b,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM pterms GROUP BY a, b, ea, eb),
        |sims AS MATERIALIZED (
        |  SELECT a, b,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS sim
        |  FROM pdots),
        |selall1 AS MATERIALIZED (
        |  SELECT vec_id, rel, CAST(0.5 AS DOUBLE) * rel AS sc, 1 AS rank
        |  FROM pool ORDER BY CAST(0.5 AS DOUBLE) * rel DESC, vec_id LIMIT 1),
        |$rounds
        |SELECT CAST(rank AS INT) AS rank, vec_id, rel,
        |  CAST(floor(sc * 1e9) AS DOUBLE) / 1e9 AS mmr_score
        |FROM selall10""".stripMargin
      }),

    // ── Approximate k-NN GRAPH construction — the adjacency artifact
    //    semantic clustering / SemDeDup / label propagation consume: per
    //    vector, the top-3 neighbors among its q61 LSH candidates (3×8-bit
    //    tables, OR of buckets), plus whether each directed edge is
    //    MUTUAL (its reverse also survived top-3 — the reciprocal-edge
    //    filter that separates true neighborhoods from hub artifacts).
    //    Scale shape: the banded substrate is built once; candidates are
    //    keyed (table, bucket) equi-joins, the per-vector top-3 is one
    //    keyed window over candidate edges (never corpus × corpus), and
    //    the mutuality check is a self-join of the (already tiny) edge
    //    list on the reversed key.
    QueryDef(
      "q149_knn_graph",
      (s, dir) => {
        import s.implicits._
        val edges = knnEdgesCached(s, dir)
        edges
          .join(edges.select($"dst".as("src"), $"src".as("dst"),
            lit(true).as("mutual")), Seq("src", "dst"), "left")
          .select($"src", $"dst", $"rank", $"cos",
            coalesce($"mutual", lit(false)).as("mutual"))
      },
      Some {
        s"""$knnEdgesCtesSql
        |SELECT x.src, x.dst, x.rank, x.cos,
        |  y.src IS NOT NULL AS mutual
        |FROM edges x LEFT JOIN edges y
        |  ON x.src = y.dst AND x.dst = y.src""".stripMargin
      }),

    // ── PageRank over the kNN graph — 5 damped power-iteration rounds on
    //    the q149 edge list, entirely in 1e-9 FIXED POINT: contributions
    //    are integer divisions pr div outdeg, the damped update is
    //    150_000_000 + (85·Σ) div 100 — no float accumulation anywhere, so
    //    partial-agg order cannot move a single bit and both engines land
    //    on identical longs. Scale shape: each round is one keyed agg over
    //    the (≤3n-row) edge list + one left join onto the node list, with
    //    a per-round localCheckpoint (the label-prop CC posture); the
    //    centrality scores rank which documents anchor semantic
    //    neighborhoods — the "importance" signal for cluster-keeper
    //    selection and curriculum seeding.
    QueryDef(
      "q171_pagerank",
      (s, dir) => {
        import s.implicits._
        val edges = knnEdgesCached(s, dir).select($"src", $"dst")
        val outd = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
        val ewd = edges.join(outd, "src").localCheckpoint()
        // r16 optimization (the q205 treatment): ranks iterate SPARSELY
        // over nodes with in-edges; a node with no in-edge holds the
        // CONSTANT teleport rank (round 0: the uniform seed) forever, so
        // its contribution re-enters through a left-join coalesce on the
        // edge side instead of a full dense node fill + checkpoint per
        // round. The keyed sums checkpoint once per round; absent nodes
        // re-join at the END with the same teleport constant.
        // r17: under the measured edge cap the five fixed-point rounds
        // run as the identical longs on the driver
        // (BoundedGraph.pageRankFixed; Round17OptSpec pins kernel ≡
        // loop); over the cap the distributed loop is unchanged.
        val pr = graft.ext.BoundedGraph
          .pageRankFixed(ewd, 5, 1000000000L, 150000000L).getOrElse {
            val nodes = edges.select($"src".as("vec_id"))
              .union(edges.select($"dst".as("vec_id"))).distinct()
              .localCheckpoint()
            var prS: Option[org.apache.spark.sql.DataFrame] = None
            var absentPr = 1000000000L // round 0: uniform seed everywhere
            for (_ <- 1 to 5) {
              val contrib = prS match {
                case None => ewd
                  .select($"dst", expr(s"${absentPr}L div outdeg").as("c"))
                case Some(p) => ewd
                  .join(p.withColumnRenamed("vec_id", "src"),
                    Seq("src"), "left")
                  .select($"dst",
                    expr(s"coalesce(pr, ${absentPr}L) div outdeg").as("c"))
              }
              val sc = contrib.groupBy($"dst").agg(sum($"c").as("sc"))
                .localCheckpoint()
              prS = Some(sc.select($"dst".as("vec_id"),
                (lit(150000000L) + expr("(85 * sc) div 100")).as("pr")))
              absentPr = 150000000L // no-in-edge nodes: teleport only
            }
            nodes
              .join(prS.get, Seq("vec_id"), "left")
              .select($"vec_id",
                coalesce($"pr", lit(150000000L)).as("pr"))
          }
        val top = pr.orderBy($"pr".desc, $"vec_id".asc).limit(20)
        top.withColumn("rank",
            row_number().over(Window.orderBy($"pr".desc, $"vec_id".asc))
              .cast("int"))
          .select($"rank", $"vec_id", $"pr")
      },
      Some {
        def round(k: Int) = s"""pr$k AS (
        |  SELECT n.vec_id,
        |    CAST(150000000 + (85 * COALESCE(SUM(c.c), 0)) // 100 AS BIGINT)
        |      AS pr
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, p.pr // o.outdeg AS c
        |    FROM edges e JOIN outd o ON e.src = o.src
        |      JOIN pr${k - 1} p ON e.src = p.vec_id) c
        |    ON c.dst = n.vec_id
        |  GROUP BY n.vec_id)"""
        s"""$knnEdgesCtesSql,
        |outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT vec_id FROM (
        |  SELECT src AS vec_id FROM edges
        |  UNION ALL SELECT dst FROM edges)),
        |pr0 AS (SELECT vec_id, CAST(1000000000 AS BIGINT) AS pr FROM nodes),
        |${(1 to 5).map(round).mkString(",\n")}
        |SELECT CAST(rnk AS INT) AS rank, vec_id, pr FROM (
        |  SELECT vec_id, pr,
        |    ROW_NUMBER() OVER (ORDER BY pr DESC, vec_id ASC) AS rnk
        |  FROM pr5)
        |WHERE rnk <= 20""".stripMargin
      }),

    // ── Semantic clusters — connected components over the MUTUAL edges of
    //    the q149 kNN graph (cos ≥ 0.3): the topic/near-duplicate
    //    neighborhood map that SemDeDup-style pruning, cluster-balanced
    //    sampling, and diversity audits consume. Mutuality + threshold
    //    keep hub vectors from gluing unrelated neighborhoods. Scale
    //    shape: the edge list is LSH-bounded and top-3-capped (≤ 3n rows),
    //    label propagation runs keyed joins over it (fail-loud round cap);
    //    never corpus × corpus.
    QueryDef(
      "q151_semantic_clusters",
      (s, dir) => {
        import s.implicits._
        val edges = knnEdgesCached(s, dir).select($"src", $"dst", $"cos")
        val pairs = edges
          .join(edges.select($"dst".as("src"), $"src".as("dst")),
            Seq("src", "dst"), "left_semi")
          .where($"cos" >= 0.3 && $"src" < $"dst")
          .select($"src", $"dst")
        val cc = graft.ext.Dedup.connectedComponents(pairs, "src", "dst")
        cc.groupBy($"cluster_id")
          .agg(count(lit(1)).as("n_members"), max($"id").as("max_member"))
      },
      Some {
        val perTable = (0 until LshTables).map { t =>
          val sig = (t * LshTablePlanes until (t + 1) * LshTablePlanes)
            .map(p => s"b$p").mkString(" || ")
          s"SELECT vec_id, $t AS table_id, $sig AS bucket FROM bits"
        }.mkString("\n  UNION ALL ")
        s"""WITH RECURSIVE terms AS (
        |  SELECT vec_id, embedding AS e,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |bits AS MATERIALIZED (
        |  SELECT vec_id,
        |    ${planeBitsSql(LshTables * LshTablePlanes)}
        |  FROM terms GROUP BY 1),
        |bands AS (
        |  $perTable),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM bands a JOIN bands b
        |    ON a.table_id = b.table_id AND a.bucket = b.bucket
        |      AND a.vec_id <> b.vec_id),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |rterms AS (
        |  SELECT src, dst, a.embedding AS ea, b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM cand JOIN e a ON src = a.vec_id JOIN e b ON dst = b.vec_id),
        |dots AS (
        |  SELECT src, dst,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM rterms GROUP BY src, dst, ea, eb),
        |scored AS (
        |  SELECT src, dst,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS cos
        |  FROM dots),
        |kedges AS MATERIALIZED (
        |  SELECT src, dst, cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
        |      ORDER BY cos DESC, dst ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 3),
        |mpairs AS (
        |  SELECT x.src, x.dst FROM kedges x JOIN kedges y
        |    ON x.src = y.dst AND x.dst = y.src
        |  WHERE x.cos >= CAST(0.3 AS DOUBLE) AND x.src < x.dst),
        |gedges AS (
        |  SELECT src, dst FROM mpairs
        |  UNION SELECT dst, src FROM mpairs),
        |reach AS (
        |  SELECT src, dst FROM gedges
        |  UNION SELECT r.src, g.dst FROM reach r JOIN gedges g ON r.dst = g.src),
        |cc AS (
        |  SELECT id, LEAST(id, MIN(dst)) AS cluster_id
        |  FROM (SELECT src AS id, dst FROM reach) GROUP BY id)
        |SELECT cluster_id, COUNT(*) AS n_members,
        |  MAX(id) AS max_member
        |FROM cc GROUP BY cluster_id""".stripMargin
      }),

    // ── In-batch false-negative rate — the contrastive-training data
    //    audit: near-duplicate pairs (kNN edges with cos ≥ 0.4) that land
    //    in the SAME training batch poison in-batch-negative losses
    //    (InfoNCE treats them as negatives). Batches here are the
    //    hash-random baseline (50 batches, salted 60-bit hash — the q63
    //    split device); the one-row report prices how often random
    //    batching collides versus the 1/50 expectation. Scale shape: the
    //    cached edge list is ≤ 3n rows, batch membership is a codegen'd
    //    hash of each endpoint, and the report is one partial-agg'd count.
    QueryDef(
      "q153_inbatch_collisions",
      (s, dir) => {
        import s.implicits._
        def batchOf(c: org.apache.spark.sql.Column) =
          pmod(graft.ext.TextAnalysis.hash60Fast(s,
            concat(lit("batch:"), c.cast("string"))), lit(50L))
        val pairs = knnEdgesCached(s, dir)
          .where($"cos" >= 0.4 && $"src" < $"dst")
        pairs
          .select((batchOf($"src") === batchOf($"dst")).as("collide"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when($"collide", 1L).otherwise(0L)).as("n_collisions"))
          .select($"n_pairs", $"n_collisions",
            round(when($"n_pairs" > 0,
              $"n_collisions".cast("double") / $"n_pairs".cast("double"))
              .otherwise(0.0), 9).as("collision_rate"))
      },
      Some {
        val perTable = (0 until LshTables).map { t =>
          val sig = (t * LshTablePlanes until (t + 1) * LshTablePlanes)
            .map(p => s"b$p").mkString(" || ")
          s"SELECT vec_id, $t AS table_id, $sig AS bucket FROM bits"
        }.mkString("\n  UNION ALL ")
        s"""WITH terms AS (
        |  SELECT vec_id, embedding AS e,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |bits AS MATERIALIZED (
        |  SELECT vec_id,
        |    ${planeBitsSql(LshTables * LshTablePlanes)}
        |  FROM terms GROUP BY 1),
        |bands AS (
        |  $perTable),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM bands a JOIN bands b
        |    ON a.table_id = b.table_id AND a.bucket = b.bucket
        |      AND a.vec_id <> b.vec_id),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |rterms AS (
        |  SELECT src, dst, a.embedding AS ea, b.embedding AS eb,
        |    unnest(generate_series(1, len(a.embedding))) AS i
        |  FROM cand JOIN e a ON src = a.vec_id JOIN e b ON dst = b.vec_id),
        |dots AS (
        |  SELECT src, dst,
        |    ${dotSql("ea", "eb")} AS dot,
        |    ${dotSql("ea", "ea")} AS na,
        |    ${dotSql("eb", "eb")} AS nb
        |  FROM rterms GROUP BY src, dst, ea, eb),
        |scored AS (
        |  SELECT src, dst,
        |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
        |         ELSE 0.0 END, 9) AS cos
        |  FROM dots),
        |kedges AS (
        |  SELECT src, dst, cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
        |      ORDER BY cos DESC, dst ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 3),
        |p AS (
        |  SELECT src, dst FROM kedges
        |  WHERE cos >= CAST(0.4 AS DOUBLE) AND src < dst),
        |flags AS (
        |  SELECT ('0x' || substr(md5('batch:' || CAST(src AS VARCHAR)), 1, 15))::BIGINT % 50
        |    = ('0x' || substr(md5('batch:' || CAST(dst AS VARCHAR)), 1, 15))::BIGINT % 50 AS collide
        |  FROM p)
        |SELECT COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN collide THEN 1 ELSE 0 END) AS BIGINT) AS n_collisions,
        |  ROUND(CASE WHEN COUNT(*) > 0
        |    THEN CAST(SUM(CASE WHEN collide THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)
        |    ELSE 0.0 END, 9) AS collision_rate
        |FROM flags""".stripMargin
      }),

    // ── Triangle census of the kNN graph — how clique-ish the embedding
    //    neighborhoods are (high closure ⇒ tight semantic clusters;
    //    q151's cluster count tells you how many, this tells you how
    //    dense). Classic distributed pattern: undirect the cached top-3
    //    edge list, ORIENT each edge from its lower-(degree, id) endpoint
    //    to the higher one, and join oriented out-neighbor pairs against
    //    the undirected edge set — each triangle is counted exactly once,
    //    from its minimum-degree apex, so the wedge join's fan-out per
    //    vertex is bounded by its ORIENTED out-degree (≤ max undirected
    //    degree, itself ≤ 3 + in-links here; on power-law graphs this
    //    orientation is what makes the join feasible at all). Wedge
    //    count Σ d(d−1)/2 and the closure ratio 3Δ/wedges are exact
    //    integers until one final double division.
    QueryDef(
      "q199_triangles",
      (s, dir) => {
        import s.implicits._
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct()
          .localCheckpoint()
        val deg = und.select($"u".as("vtx"))
          .unionByName(und.select($"v".as("vtx")))
          .groupBy($"vtx").agg(count(lit(1)).as("d"))
        val o = und
          .join(deg.select($"vtx".as("u"), $"d".as("du")), "u")
          .join(deg.select($"vtx".as("v"), $"d".as("dv")), "v")
          .select(
            when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
              $"u").otherwise($"v").as("x"),
            when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
              $"v").otherwise($"u").as("y"))
        val tri = o.select($"x", $"y".as("y1"))
          .join(o.select($"x", $"y".as("y2")), Seq("x"))
          .where($"y1" < $"y2")
          .join(und, $"y1" === $"u" && $"y2" === $"v", "left_semi")
          .agg(count(lit(1)).as("n_tri"))
        val stats = deg.agg(count(lit(1)).as("n_nodes"),
          sum($"d" * ($"d" - 1L)).as("wedges2"))
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(stats).crossJoin(tri)
          .select($"n_nodes", $"n_edges", $"n_tri",
            expr("wedges2 div 2").as("n_wedges"),
            when($"wedges2" > 0,
              (lit(6L) * $"n_tri").cast("double") /
                $"wedges2".cast("double")).as("closure"))
      },
      Some(knnEdgesCtesSql + """,
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM edges),
        |deg AS (
        |  SELECT vtx, COUNT(*) AS d FROM (
        |    SELECT u AS vtx FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY vtx),
        |o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u < v)
        |      THEN u ELSE v END AS x,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND u < v)
        |      THEN v ELSE u END AS y
        |  FROM und JOIN deg da ON da.vtx = u JOIN deg db ON db.vtx = v),
        |tri AS (
        |  SELECT COUNT(*) AS n_tri FROM (
        |    SELECT e1.x, e1.y AS y1, e2.y AS y2
        |    FROM o e1 JOIN o e2 ON e1.x = e2.x AND e1.y < e2.y) w
        |  WHERE EXISTS (SELECT 1 FROM und
        |    WHERE und.u = w.y1 AND und.v = w.y2)),
        |st AS (
        |  SELECT COUNT(*) AS n_nodes, SUM(d * (d - 1)) AS wedges2
        |  FROM deg)
        |SELECT st.n_nodes, (SELECT COUNT(*) FROM und) AS n_edges,
        |  CAST(tri.n_tri AS BIGINT) AS n_tri,
        |  CAST(st.wedges2 // 2 AS BIGINT) AS n_wedges,
        |  CASE WHEN st.wedges2 > 0 THEN
        |    CAST(6 * tri.n_tri AS DOUBLE) / CAST(st.wedges2 AS DOUBLE)
        |    ELSE NULL END AS closure
        |FROM st, tri""".stripMargin)),

    // ── HITS hubs & authorities over the kNN digraph — the asymmetric
    //    complement of q171's PageRank: a vector is an AUTHORITY when
    //    many strong hubs point at it (a canonical/centroid-like
    //    document), a HUB when it points at strong authorities. Four
    //    mutual-reinforcement rounds entirely in integer fixed point:
    //    each half-step is one keyed sum over the (≤3n) edge list, then
    //    a deterministic integer renormalization `score div (max div
    //    1e6 + 1)` (max broadcasts as a 1-row frame) that pins every
    //    round's scale to ~1e6 — no float accumulation, no overflow at
    //    any graph size, bit-identical partials in both engines. Per-
    //    round localCheckpoint, the repo's iterative-algorithm posture.
    QueryDef(
      "q205_hits",
      (s, dir) => {
        import s.implicits._
        val edges = knnEdgesCached(s, dir).select($"src", $"dst")
        // r16 optimization (guide §2.3/§2.4): scores iterate SPARSELY.
        // Every edge's src has an out-edge and every dst an in-edge, so
        // the keyed sums lose nothing when absent-score nodes (whose
        // dense value was coalesce(…, 0)) simply stay absent — a 0 score
        // contributes 0 to every sum and 0 can never be the max on a
        // non-empty edge list. The dense variant re-joined the FULL node
        // list and re-ran the edge join+agg TWICE per half-step (once
        // inside the broadcast max subtree, once in the main plan);
        // now the raw sums checkpoint once per half-step and the max +
        // renorm read that checkpoint. Nodes without an in-/out-edge
        // re-enter at the END with the same 0 they always had.
        // r17: under the measured edge cap the whole 8-half-step
        // iteration runs as the identical fixed-point longs on the
        // driver (BoundedGraph.hitsFixed; Round17OptSpec pins kernel ≡
        // loop); over the cap the distributed loop is unchanged.
        val joined = graft.ext.BoundedGraph.hitsFixed(edges, 4)
          .getOrElse {
            val nodes = edges.select($"src".as("vec_id"))
              .union(edges.select($"dst".as("vec_id"))).distinct()
              .localCheckpoint()
            var h = nodes.withColumn("h", lit(1000000L))
            var a = nodes.withColumn("a", lit(0L))
            for (_ <- 1 to 4) {
              val rawa = edges
                .join(h.withColumnRenamed("vec_id", "src"), "src")
                .groupBy($"dst").agg(sum($"h").as("ra"))
                .localCheckpoint()
              val am = rawa.agg(max($"ra").as("m"))
              a = rawa.withColumnRenamed("dst", "vec_id")
                .crossJoin(broadcast(am))
                .select($"vec_id",
                  expr("ra div (m div 1000000 + 1)").as("a"))
              val rawh = edges
                .join(a.withColumnRenamed("vec_id", "dst"), "dst")
                .groupBy($"src").agg(sum($"a").as("rh"))
                .localCheckpoint()
              val hm = rawh.agg(max($"rh").as("m"))
              h = rawh.withColumnRenamed("src", "vec_id")
                .crossJoin(broadcast(hm))
                .select($"vec_id",
                  expr("rh div (m div 1000000 + 1)").as("h"))
            }
            nodes
              .join(a, Seq("vec_id"), "left")
              .join(h, Seq("vec_id"), "left")
              .na.fill(0L, Seq("a", "h"))
          }
        joined.orderBy($"a".desc, $"vec_id".asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy($"a".desc, $"vec_id".asc)).cast("int"))
          .select($"rank", $"vec_id", $"a".as("auth"), $"h".as("hub"))
      },
      Some {
        def round(k: Int) = s"""rawa$k AS (
        |  SELECT e.dst, SUM(p.h) AS ra FROM edges e
        |  JOIN h${k - 1} p ON e.src = p.vec_id GROUP BY 1),
        |am$k AS (SELECT MAX(ra) AS m FROM rawa$k),
        |a$k AS (
        |  SELECT n.vec_id,
        |    COALESCE(r.ra, 0) // (am.m // 1000000 + 1) AS a
        |  FROM nodes n LEFT JOIN rawa$k r ON r.dst = n.vec_id, am$k am),
        |rawh$k AS (
        |  SELECT e.src, SUM(p.a) AS rh FROM edges e
        |  JOIN a$k p ON e.dst = p.vec_id GROUP BY 1),
        |hm$k AS (SELECT MAX(rh) AS m FROM rawh$k),
        |h$k AS (
        |  SELECT n.vec_id,
        |    COALESCE(r.rh, 0) // (hm.m // 1000000 + 1) AS h
        |  FROM nodes n LEFT JOIN rawh$k r ON r.src = n.vec_id, hm$k hm)"""
        s"""$knnEdgesCtesSql,
        |nodes AS (SELECT DISTINCT vec_id FROM (
        |  SELECT src AS vec_id FROM edges
        |  UNION ALL SELECT dst FROM edges)),
        |h0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS h FROM nodes),
        |${(1 to 4).map(round).mkString(",\n")}
        |SELECT CAST(rnk AS INT) AS rank, vec_id,
        |  CAST(a AS BIGINT) AS auth, CAST(h AS BIGINT) AS hub
        |FROM (
        |  SELECT a4.vec_id, a4.a, h4.h,
        |    ROW_NUMBER() OVER (ORDER BY a4.a DESC, a4.vec_id ASC) AS rnk
        |  FROM a4 JOIN h4 ON a4.vec_id = h4.vec_id)
        |WHERE rnk <= 20""".stripMargin
      }),

    // ── kNN label-vote classifier eval — the confusion matrix of
    //    "predict each vector's label by majority vote of its top-3
    //    neighbors" (ties → smallest label), the standard embedding-
    //    quality probe (its diagonal mass is the label-consistency of
    //    the vector space; compare q71's trained linear probe). Votes
    //    are one keyed agg over the cached edge list, the argmax is a
    //    per-src WindowGroupLimit heap, and the output is the ≤
    //    |labels|² confusion rollup — never corpus × corpus, and the
    //    only join fan-in is 3 edges per vector.
    QueryDef(
      "q206_knn_classifier",
      (s, dir) => {
        import s.implicits._
        val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
        val votes = knnEdgesCached(s, dir).select($"src", $"dst")
          .join(lab.select($"vec_id".as("dst"), $"label".as("nl")), "dst")
          .groupBy($"src", $"nl").agg(count(lit(1)).as("v"))
        val pred = votes
          .withColumn("rn", row_number().over(Window.partitionBy($"src")
            .orderBy($"v".desc, $"nl".asc)))
          .where($"rn" === 1)
          .select($"src", $"nl".as("pred_label"))
        pred
          .join(lab.select($"vec_id".as("src"), $"label".as("true_label")),
            "src")
          .groupBy($"true_label", $"pred_label")
          .agg(count(lit(1)).as("n_vectors"))
      },
      Some(knnEdgesCtesSql + """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |votes AS (
        |  SELECT e.src, l.label AS nl, COUNT(*) AS v
        |  FROM edges e JOIN lab l ON e.dst = l.vec_id
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT src, nl AS pred_label FROM (
        |    SELECT src, nl,
        |      ROW_NUMBER() OVER (PARTITION BY src
        |        ORDER BY v DESC, nl ASC) AS rn
        |    FROM votes)
        |  WHERE rn = 1)
        |SELECT l.label AS true_label, p.pred_label,
        |  COUNT(*) AS n_vectors
        |FROM pred p JOIN lab l ON p.src = l.vec_id
        |GROUP BY 1, 2""".stripMargin)),

    // ── 3-core of the kNN graph — the dense backbone that survives
    //    iterative peeling of degree-<3 nodes: peel rounds run to an
    //    OBSERVED fixpoint (edge count stable; peeling only removes, so
    //    equal count ⇒ no removal ⇒ converged), fail-loud at a 20-round
    //    cap like the CC fixpoints; the oracle unrolls 20 rounds, which
    //    is safe because post-fixpoint rounds are no-ops. Each round is
    //    one degree agg + two endpoint semi-joins + localCheckpoint.
    //    Peeling strips the hairy periphery that label-propagation and
    //    sampling both over-count; per-label core membership tells you
    //    which classes form tight cliquey neighborhoods vs loose
    //    clouds. All integer, all keyed — the classic distributed
    //    k-core shape (degree agg + filter + edge semi-join, log-depth
    //    rounds), never corpus × corpus.
    QueryDef(
      "q214_kcore",
      (s, dir) => {
        import s.implicits._
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct()
          .localCheckpoint()
        // r17: under the measured edge cap the peel runs on the driver
        // (BoundedGraph.kcoreNodes — integer degrees, observed fixpoint;
        // Round17OptSpec pins kernel ≡ loop); over the cap the
        // distributed peel below is unchanged, round-capped fail-loud.
        val nodes = graft.ext.BoundedGraph.kcoreNodes(und, 3)
          .getOrElse {
            var e = und
            var prev = e.count()
            var stable = false
            for (_ <- 1 to KcoreMaxRounds if !stable) {
              val deg = e.select($"u".as("vtx"))
                .unionByName(e.select($"v".as("vtx")))
                .groupBy($"vtx").agg(count(lit(1)).as("d"))
              val keep = deg.where($"d" >= 3).select($"vtx")
              e = e
                .join(keep.select($"vtx".as("u")), Seq("u"), "left_semi")
                .join(keep.select($"vtx".as("v")), Seq("v"), "left_semi")
                .localCheckpoint()
              val cnt = e.count()
              stable = cnt == prev
              prev = cnt
            }
            require(stable,
              s"q214_kcore: peeling did not converge in " +
                s"$KcoreMaxRounds rounds")
            e.select($"u".as("vec_id"))
              .unionByName(e.select($"v".as("vec_id"))).distinct()
          }
        nodes
          .join(Tables.embeddings(s, dir).select($"vec_id", $"label"),
            "vec_id")
          .groupBy($"label").agg(count(lit(1)).as("n_members"))
      },
      Some {
        // every round CTE MATERIALIZED: e_k is referenced three times
        // (scan + two IN probes); inlined CTEs would re-expand the whole
        // chain 3^k times
        def round(k: Int) = s"""keep$k AS MATERIALIZED (
        |  SELECT vtx FROM (
        |    SELECT vtx, COUNT(*) AS d FROM (
        |      SELECT u AS vtx FROM e${k - 1}
        |      UNION ALL SELECT v FROM e${k - 1})
        |    GROUP BY vtx)
        |  WHERE d >= 3),
        |e$k AS MATERIALIZED (
        |  SELECT u, v FROM e${k - 1}
        |  WHERE u IN (SELECT vtx FROM keep$k)
        |    AND v IN (SELECT vtx FROM keep$k))"""
        s"""$knnEdgesCtesSql,
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM edges),
        |${(1 to KcoreMaxRounds).map(round).mkString(",\n")}
        |SELECT emb.label, COUNT(*) AS n_members FROM (
        |  SELECT DISTINCT vec_id FROM (
        |    SELECT u AS vec_id FROM e$KcoreMaxRounds UNION ALL SELECT v FROM e$KcoreMaxRounds)) n
        |JOIN embeddings emb ON emb.vec_id = n.vec_id
        |GROUP BY emb.label""".stripMargin
      }),

    // ── Mean reciprocal rank of the kNN index against labels — at what
    //    rank does each vector first meet a same-label neighbor in its
    //    top-3 list? The ranking-quality complement of q109/q191's
    //    recall evals: RR is 1e9 div rank in EXACT fixed point (1e9,
    //    5e8, 333333333 — no float reciprocals), missing = 0, and the
    //    per-label mean is one more integer floor division. One keyed
    //    min over ≤3 edges per vector; output ≤ |labels| rows.
    QueryDef(
      "q215_mrr_eval",
      (s, dir) => {
        import s.implicits._
        val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
        val firstHit = knnEdgesCached(s, dir).select($"src", $"dst", $"rank")
          .join(lab.select($"vec_id".as("src"), $"label".as("sl")), "src")
          .join(lab.select($"vec_id".as("dst"), $"label".as("dl")), "dst")
          .where($"sl" === $"dl")
          .groupBy($"src", $"sl").agg(min($"rank").as("r"))
        lab.select($"vec_id".as("src"), $"label".as("sl"))
          .join(firstHit.select($"src", expr("1000000000 div r").as("rr")),
            Seq("src"), "left")
          .groupBy($"sl".as("label"))
          .agg(count(lit(1)).as("n_queries"),
            sum(when($"rr".isNotNull, 1L).otherwise(0L)).as("n_hit"),
            expr("sum(coalesce(rr, CAST(0 AS BIGINT))) div count(1)")
              .as("mrr_1e9"))
      },
      Some(knnEdgesCtesSql + """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |fh AS (
        |  SELECT e.src, MIN(e.rank) AS r
        |  FROM edges e
        |  JOIN lab a ON a.vec_id = e.src
        |  JOIN lab b ON b.vec_id = e.dst AND a.label = b.label
        |  GROUP BY 1),
        |rr AS (
        |  SELECT l.label, l.vec_id,
        |    CASE WHEN fh.r IS NOT NULL THEN 1000000000 // fh.r
        |      ELSE NULL END AS rr
        |  FROM lab l LEFT JOIN fh ON fh.src = l.vec_id)
        |SELECT label, COUNT(*) AS n_queries,
        |  CAST(SUM(CASE WHEN rr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit,
        |  CAST(SUM(COALESCE(rr, 0)) // COUNT(*) AS BIGINT) AS mrr_1e9
        |FROM rr GROUP BY label""".stripMargin)),

    // ── Multi-source BFS reachability over the kNN graph — how much of
    //    the corpus sits within h hops of a seed set (here vec_id < 10):
    //    the connectivity complement of q214's density core. Each hop is
    //    ONE keyed join of the current frontier (dist = r-1 only, never
    //    the whole visited set) against the undirected edge list, an
    //    anti-join against visited, and a localCheckpoint — the classic
    //    distributed frontier expansion, O(hops) rounds, never
    //    corpus × corpus. The oracle replays the same rounds with
    //    MIN(dist) folding (equivalent to the anti-join: a revisited
    //    node keeps its earlier distance). Unreached nodes report
    //    dist = -1 — the coverage-hole count an index audit wants.
    QueryDef(
      "q220_bfs_hops",
      (s, dir) => {
        import s.implicits._
        val ed = knnEdgesCached(s, dir).select($"src", $"dst")
        val und = ed
          .unionByName(ed.select($"dst".as("src"), $"src".as("dst")))
          .distinct().localCheckpoint()
        val seeds = Tables.embeddings(s, dir)
          .select($"vec_id").where($"vec_id" < 10)
        // r17 adaptive dispatch (the CC pattern, guide §1.2 "remove
        // passes"): at or under the measured edge cap the whole frontier
        // loop — BfsHops × (join + distinct + anti-join + checkpoint) —
        // runs as the identical integer BFS on the driver; over the cap
        // the distributed loop below is unchanged. Round17OptSpec pins
        // kernel ≡ loop.
        val visited = graft.ext.BoundedGraph
          .bfsVisited(und, seeds, BfsHops).getOrElse {
            var v = seeds.withColumn("dist", lit(0)).localCheckpoint()
            for (r <- 1 to BfsHops) {
              val frontier = v.where($"dist" === r - 1)
                .select($"vec_id".as("src"))
              val next = und.join(frontier, "src")
                .select($"dst".as("vec_id")).distinct()
                .join(v.select($"vec_id"), Seq("vec_id"), "left_anti")
                .withColumn("dist", lit(r))
              v = v.unionByName(next).localCheckpoint()
            }
            v
          }
        Tables.embeddings(s, dir).select($"vec_id")
          .join(visited, Seq("vec_id"), "left")
          .select(coalesce($"dist", lit(-1)).as("dist"))
          .groupBy($"dist").agg(count(lit(1)).as("n_vectors"))
      },
      Some {
        def round(r: Int) = s"""v$r AS MATERIALIZED (
        |  SELECT vec_id, MIN(dist) AS dist FROM (
        |    SELECT vec_id, dist FROM v${r - 1}
        |    UNION ALL
        |    SELECT e.dst AS vec_id, $r AS dist
        |    FROM ed e JOIN v${r - 1} v
        |      ON e.src = v.vec_id AND v.dist = ${r - 1})
        |  GROUP BY vec_id)"""
        s"""$knnEdgesCtesSql,
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM edges
        |    UNION ALL SELECT dst, src FROM edges)),
        |v0 AS MATERIALIZED (
        |  SELECT vec_id, 0 AS dist FROM embeddings WHERE vec_id < 10),
        |${(1 to BfsHops).map(round).mkString(",\n")}
        |SELECT CAST(COALESCE(v.dist, -1) AS INT) AS dist,
        |  COUNT(*) AS n_vectors
        |FROM embeddings emb LEFT JOIN v$BfsHops v
        |  ON emb.vec_id = v.vec_id
        |GROUP BY 1""".stripMargin
      }),

    // ── NDCG@3 of the kNN index against labels — the graded complement
    //    of q215's MRR: every same-label neighbor contributes its rank's
    //    discount weight, not just the first. The 1/log2(rank+1)
    //    discounts are IRRATIONAL, so both engines consume the SAME
    //    1e9-scaled integer literals (computed once driver-side and
    //    interpolated into both plans) — DCG and the per-label mean stay
    //    exact BIGINT arithmetic end to end; the ideal DCG (all 3
    //    neighbors relevant) is the constant the per-query score divides
    //    by in fixed point. Fan-in ≤ 3 edges/vector; output ≤ |labels|.
    QueryDef(
      "q221_ndcg_eval",
      (s, dir) => {
        import s.implicits._
        val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
        val dcg = knnEdgesCached(s, dir).select($"src", $"dst", $"rank")
          .join(lab.select($"vec_id".as("src"), $"label".as("sl")), "src")
          .join(lab.select($"vec_id".as("dst"), $"label".as("dl")), "dst")
          .where($"sl" === $"dl")
          .groupBy($"src")
          .agg(sum(when($"rank" === 1, lit(NdcgW1))
            .when($"rank" === 2, lit(NdcgW2))
            .otherwise(lit(NdcgW3))).as("dcg"))
        lab.select($"vec_id".as("src"), $"label")
          .join(dcg, Seq("src"), "left")
          .groupBy($"label")
          .agg(count(lit(1)).as("n_queries"),
            // dcg ≤ IDCG ≈ 2.13e9, so dcg·1e9 ≤ 2.14e18 < 2^63: no overflow
            expr(s"sum(coalesce(dcg, CAST(0 AS BIGINT)) * 1000000000 div $NdcgIdcg)"
              + " div count(1)").as("mean_ndcg_1e9"))
      },
      Some(knnEdgesCtesSql + s""",
        |lab AS (SELECT vec_id, label FROM embeddings),
        |dcg AS (
        |  SELECT e.src,
        |    SUM(CASE WHEN e.rank = 1 THEN $NdcgW1
        |             WHEN e.rank = 2 THEN $NdcgW2
        |             ELSE $NdcgW3 END) AS dcg
        |  FROM edges e
        |  JOIN lab a ON a.vec_id = e.src
        |  JOIN lab b ON b.vec_id = e.dst AND a.label = b.label
        |  GROUP BY 1)
        |SELECT l.label, COUNT(*) AS n_queries,
        |  CAST(SUM(COALESCE(dcg.dcg, 0) * 1000000000 // $NdcgIdcg)
        |    // COUNT(*) AS BIGINT) AS mean_ndcg_1e9
        |FROM lab l LEFT JOIN dcg ON dcg.src = l.vec_id
        |GROUP BY l.label""".stripMargin)),

    // ── Degree assortativity of the kNN graph — do well-connected
    //    vectors neighbor other well-connected vectors? Positive r means
    //    hubs cluster (dense cores, consistent with q214); negative
    //    means hub-and-spoke. Pearson over the endpoint-degree pairs of
    //    every directed edge (both orientations, the standard
    //    symmetrization): degrees are one keyed count over the
    //    undirected edge list, the six sums are exact BIGINTs, and the
    //    final expression is the identical rounded IEEE tree as
    //    q224/q200. Everything is edge-keyed — degree dim joins, no
    //    pairwise anything.
    QueryDef(
      "q233_assortativity",
      (s, dir) => {
        import s.implicits._
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct().localCheckpoint()
        val deg = und.select($"u".as("vtx"))
          .unionByName(und.select($"v".as("vtx")))
          .groupBy($"vtx").agg(count(lit(1)).as("d"))
        val both = und.unionByName(und.select($"v".as("u"), $"u".as("v")))
        both
          .join(deg.select($"vtx".as("u"), $"d".as("da")), "u")
          .join(deg.select($"vtx".as("v"), $"d".as("db")), "v")
          .agg(count(lit(1)).as("n_dir_edges"),
            sum($"da").as("sa"), sum($"db").as("sb"),
            sum($"da" * $"db").as("sab"),
            sum($"da" * $"da").as("saa"),
            sum($"db" * $"db").as("sbb"))
          .select($"n_dir_edges",
            round(
              (($"n_dir_edges" * $"sab" - $"sa" * $"sb").cast("double") /
                (sqrt(($"n_dir_edges" * $"saa" - $"sa" * $"sa")
                  .cast("double")) *
                  sqrt(($"n_dir_edges" * $"sbb" - $"sb" * $"sb")
                    .cast("double")))),
              9).as("assortativity"))
      },
      Some(knnEdgesCtesSql + """,
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM edges),
        |deg AS (
        |  SELECT vtx, COUNT(*) AS d FROM (
        |    SELECT u AS vtx FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT a.d AS da, b.d AS db
        |  FROM (SELECT u, v FROM und UNION ALL SELECT v, u FROM und) e
        |  JOIN deg a ON a.vtx = e.u JOIN deg b ON b.vtx = e.v),
        |sums AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(da) AS BIGINT) AS sa, CAST(SUM(db) AS BIGINT) AS sb,
        |    CAST(SUM(da * db) AS BIGINT) AS sab,
        |    CAST(SUM(da * da) AS BIGINT) AS saa,
        |    CAST(SUM(db * db) AS BIGINT) AS sbb
        |  FROM pairs)
        |SELECT CAST(n AS BIGINT) AS n_dir_edges,
        |  ROUND(CAST(n * sab - sa * sb AS DOUBLE) /
        |    (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
        |     sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 9) AS assortativity
        |FROM sums""".stripMargin)),

    // ── Deterministic negative sampling for contrastive training —
    //    each probe vector draws candidate ids from the 60-bit md5 hash
    //    of (vec_id, slot) mod N (run-independent, engine-identical),
    //    rejects itself and anything its kNN top-3 list says is a true
    //    neighbor (the edges anti-join — don't train against your own
    //    positives), and keeps the first 4 surviving slots. Oversampling
    //    8 slots makes the reject rate harmless; everything is keyed
    //    (hash explode + one anti-join + a ≤8-row-per-probe window).
    QueryDef(
      "q234_negative_sampling",
      (s, dir) => {
        import s.implicits._
        val nRow = Tables.embeddings(s, dir)
          .agg(count(lit(1)).as("nv"))
        val cand = Tables.embeddings(s, dir)
          .where($"vec_id" < 100).select($"vec_id")
          .select($"vec_id", explode(sequence(lit(1), lit(8))).as("slot"))
          .crossJoin(broadcast(nRow))
          .select($"vec_id", $"slot",
            (graft.ext.TextAnalysis.hash60Fast(s,
              concat_ws(":", $"vec_id", $"slot")) % $"nv").as("neg_id"))
          .where($"neg_id" =!= $"vec_id")
        val nonNeighbor = cand.join(
          knnEdgesCached(s, dir)
            .select($"src".as("vec_id"), $"dst".as("neg_id")),
          Seq("vec_id", "neg_id"), "left_anti")
        nonNeighbor
          .withColumn("rank", row_number().over(
            Window.partitionBy($"vec_id").orderBy($"slot")).cast("int"))
          .where($"rank" <= 4)
          .select($"vec_id", $"rank", $"neg_id")
      },
      Some(knnEdgesCtesSql + """,
        |nv AS (SELECT COUNT(*) AS nv FROM embeddings),
        |ncand AS (
        |  SELECT e.vec_id, slot,
        |    ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':' ||
        |      CAST(slot AS VARCHAR)), 1, 15))::BIGINT % nv.nv AS neg_id
        |  FROM embeddings e,
        |    (SELECT unnest(generate_series(1, 8)) AS slot), nv
        |  WHERE e.vec_id < 100),
        |nok AS (
        |  SELECT vec_id, slot, neg_id FROM ncand c
        |  WHERE neg_id <> vec_id AND NOT EXISTS (
        |    SELECT 1 FROM edges x
        |    WHERE x.src = c.vec_id AND x.dst = c.neg_id)),
        |r AS (
        |  SELECT vec_id, neg_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY slot)
        |      AS INT) AS rank
        |  FROM nok)
        |SELECT vec_id, rank, neg_id FROM r WHERE rank <= 4"""
        .stripMargin)),

    // ── Two-hop neighborhood size — the friend-of-friend feature that
    //    graph-based rerankers and link predictors consume: for each
    //    vector, how many DISTINCT vectors sit exactly two undirected
    //    kNN hops away (reachable via a shared neighbor, not a direct
    //    neighbor, not self)? One edge-keyed self-join (fan-out bounded
    //    by degree ≤ 2·k per mid vertex), a distinct, and one anti-join
    //    against the direct edge list — never corpus × corpus. Vectors
    //    whose whole 2-hop shell collapses into direct neighbors report
    //    0 via the left join.
    QueryDef(
      "q236_two_hop",
      (s, dir) => {
        import s.implicits._
        val e = knnEdgesCached(s, dir).select($"src", $"dst")
        val und = e
          .unionByName(e.select($"dst".as("src"), $"src".as("dst")))
          .distinct().localCheckpoint()
        val two = und.select($"src", $"dst".as("mid"))
          .join(und.select($"src".as("mid"), $"dst".as("hop2")), "mid")
          .where($"hop2" =!= $"src")
          .select($"src", $"hop2").distinct()
          .join(und.select($"src", $"dst".as("hop2")),
            Seq("src", "hop2"), "left_anti")
        Tables.embeddings(s, dir).select($"vec_id")
          .join(two.groupBy($"src".as("vec_id"))
            .agg(count(lit(1)).as("n")), Seq("vec_id"), "left")
          .select($"vec_id", coalesce($"n", lit(0L)).as("n_two_hop"))
      },
      Some(knnEdgesCtesSql + """,
        |und AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM edges
        |    UNION ALL SELECT dst, src FROM edges)),
        |two AS (
        |  SELECT DISTINCT a.src, b.dst AS hop2
        |  FROM und a JOIN und b ON a.dst = b.src
        |  WHERE b.dst <> a.src),
        |indirect AS (
        |  SELECT src, hop2 FROM two t
        |  WHERE NOT EXISTS (SELECT 1 FROM und u
        |    WHERE u.src = t.src AND u.dst = t.hop2)),
        |cnt AS (
        |  SELECT src AS vec_id, COUNT(*) AS n FROM indirect GROUP BY 1)
        |SELECT e.vec_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_two_hop
        |FROM embeddings e LEFT JOIN cnt ON e.vec_id = cnt.vec_id"""
        .stripMargin)),

    // ── Per-node local clustering coefficient — q199's global census
    //    localized: enumerate each triangle once in id order (a<b<c via
    //    two adjacency joins + an edge semi-join), credit all three
    //    corners, and coef = 2·tri / deg·(deg−1) in 1e9 fixed point.
    //    The per-vector "how cliquey is my neighborhood" feature that
    //    separates dense-community members from bridge nodes — link
    //    prediction and community detection both consume it. Join
    //    fan-out is bounded by degree (≤ 2k per vertex); degree-ordered
    //    orientation (q199) is the documented upgrade if a future graph
    //    has heavy hubs.
    QueryDef(
      "q242_clustering_coef",
      (s, dir) => {
        import s.implicits._
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct().localCheckpoint()
        val deg = und.select($"u".as("vtx"))
          .unionByName(und.select($"v".as("vtx")))
          .groupBy($"vtx").agg(count(lit(1)).as("d"))
        val tri = und.select($"u".as("a"), $"v".as("b"))
          .join(und.select($"u".as("a"), $"v".as("c")), Seq("a"))
          .where($"b" < $"c")
          .join(und.select($"u".as("b"), $"v".as("c")),
            Seq("b", "c"), "left_semi")
        val incid = tri.select($"a".as("vtx"))
          .unionByName(tri.select($"b".as("vtx")))
          .unionByName(tri.select($"c".as("vtx")))
          .groupBy($"vtx").agg(count(lit(1)).as("t"))
        Tables.embeddings(s, dir).select($"vec_id")
          .join(deg.select($"vtx".as("vec_id"), $"d"),
            Seq("vec_id"), "left")
          .join(incid.select($"vtx".as("vec_id"), $"t"),
            Seq("vec_id"), "left")
          .select($"vec_id",
            coalesce($"d", lit(0L)).as("degree"),
            coalesce($"t", lit(0L)).as("n_tri"))
          .withColumn("coef_1e9",
            when($"degree" >= 2L,
              expr("n_tri * 2000000000 div (degree * (degree - 1))"))
              .otherwise(lit(0L)))
      },
      Some(knnEdgesCtesSql + """,
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM edges),
        |deg AS (
        |  SELECT vtx, COUNT(*) AS d FROM (
        |    SELECT u AS vtx FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT w.a, w.b, w.c
        |  FROM (SELECT x.u AS a, x.v AS b, y.v AS c
        |    FROM und x JOIN und y ON x.u = y.u AND x.v < y.v) w
        |  WHERE EXISTS (SELECT 1 FROM und z
        |    WHERE z.u = w.b AND z.v = w.c)),
        |incid AS (
        |  SELECT vtx, COUNT(*) AS t FROM (
        |    SELECT a AS vtx FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT e.vec_id,
        |  CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree,
        |  CAST(COALESCE(incid.t, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN COALESCE(deg.d, 0) >= 2
        |    THEN COALESCE(incid.t, 0) * 2000000000
        |      // (deg.d * (deg.d - 1))
        |    ELSE 0 END AS coef_1e9
        |FROM embeddings e
        |LEFT JOIN deg ON deg.vtx = e.vec_id
        |LEFT JOIN incid ON incid.vtx = e.vec_id""".stripMargin)),

    // ── Higher-order array functions as a gate — transform / filter /
    //    aggregate (fold) / array_max over the embedding column, each
    //    with its DuckDB list_* twin. Elements are floor-scaled to 1e6
    //    BIGINTs INSIDE the lambda so the fold is exact integer
    //    arithmetic (a float fold's result would depend on nothing, but
    //    the discipline everywhere is: no float accumulation reaches an
    //    output). One narrow codegen'd projection, no shuffle at all —
    //    the HOF surface a vector pipeline leans on for cheap per-row
    //    feature math without ever exploding the array.
    QueryDef(
      "q248_array_hof",
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir).select($"vec_id",
          expr("aggregate(transform(embedding, x -> " +
            "CAST(floor(abs(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)), " +
            "CAST(0 AS BIGINT), (a, x) -> a + x)").as("l1_1e6"),
          expr("array_max(transform(embedding, x -> " +
            "CAST(floor(abs(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)))")
            .as("max_abs_1e6"),
          expr("CAST(size(filter(embedding, x -> x > 0)) AS BIGINT)")
            .as("n_pos"),
          expr("CAST(size(filter(embedding, x -> " +
            "abs(CAST(x AS DOUBLE)) > 0.5)) AS BIGINT)").as("n_large"))
      },
      Some("""SELECT vec_id,
        |  CAST(list_aggregate(list_transform(embedding, x ->
        |    CAST(floor(abs(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)), 'sum')
        |    AS BIGINT) AS l1_1e6,
        |  CAST(list_aggregate(list_transform(embedding, x ->
        |    CAST(floor(abs(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)), 'max')
        |    AS BIGINT) AS max_abs_1e6,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
        |    AS n_pos,
        |  CAST(len(list_filter(embedding, x ->
        |    abs(CAST(x AS DOUBLE)) > 0.5)) AS BIGINT) AS n_large
        |FROM embeddings""".stripMargin)),

    // ── Cheapest weighted path to a seed set within 4 hops —
    //    distributed Bellman-Ford over the kNN graph with integer edge
    //    weights w = 1e9 − floor(cos·1e9) (dissimilarity in exact fixed
    //    point, derived from the SAME rounded cos both engines share):
    //    each round relaxes every edge against the current distance
    //    table (one keyed join + MIN fold + checkpoint), the oracle
    //    unrolls the identical rounds, and post-fixpoint rounds are
    //    no-ops. The weighted generalization of q220's BFS: hop count
    //    measures reach, path cost measures how SEMANTICALLY far the
    //    corpus sits from the seeds. At scale the relax set narrows to
    //    the changed frontier; the full relax here keeps the oracle
    //    replay exact.
    QueryDef(
      "q249_cheapest_path",
      (s, dir) => {
        import s.implicits._
        val e = knnEdgesCached(s, dir).select($"src", $"dst", $"cos")
        val w = e
          .unionByName(e.select($"dst".as("src"), $"src".as("dst"),
            $"cos"))
          .select($"src", $"dst",
            expr("1000000000 - CAST(floor(cos * 1e9) AS BIGINT)")
              .as("w"))
          .distinct().localCheckpoint()
        val seeds = Tables.embeddings(s, dir)
          .select($"vec_id").where($"vec_id" < 10)
        // r17 adaptive dispatch: hop-bounded Bellman-Ford is pure long
        // arithmetic (seed 0, +w, MIN folds), so the driver kernel under
        // the measured edge cap computes the identical cost table; over
        // the cap the full-relax distributed loop below is unchanged
        // (Round17OptSpec pins kernel ≡ loop).
        val d = graft.ext.BoundedGraph
          .bellmanFord(w, seeds, BfsHops).getOrElse {
            var dd = seeds.withColumn("cost", lit(0L)).localCheckpoint()
            for (_ <- 1 to BfsHops) {
              val relax = w
                .join(dd.select($"vec_id".as("src"), $"cost"), "src")
                .select($"dst".as("vec_id"), ($"cost" + $"w").as("cost"))
              dd = dd.unionByName(relax)
                .groupBy($"vec_id").agg(min($"cost").as("cost"))
                .localCheckpoint()
            }
            dd
          }
        Tables.embeddings(s, dir).select($"vec_id")
          .join(d, Seq("vec_id"), "left")
          .select($"vec_id",
            coalesce($"cost", lit(-1L)).as("cost_1e9"))
      },
      Some {
        def round(r: Int) = s"""d$r AS MATERIALIZED (
        |  SELECT vec_id, MIN(cost) AS cost FROM (
        |    SELECT vec_id, cost FROM d${r - 1}
        |    UNION ALL
        |    SELECT w.dst, d.cost + w.w
        |    FROM w JOIN d${r - 1} d ON w.src = d.vec_id)
        |  GROUP BY 1)"""
        s"""$knnEdgesCtesSql,
        |w AS MATERIALIZED (
        |  SELECT DISTINCT src, dst,
        |    1000000000 - CAST(floor(cos * 1e9) AS BIGINT) AS w
        |  FROM (SELECT src, dst, cos FROM edges
        |    UNION ALL SELECT dst, src, cos FROM edges)),
        |d0 AS (SELECT vec_id, CAST(0 AS BIGINT) AS cost
        |  FROM embeddings WHERE vec_id < 10),
        |${(1 to BfsHops).map(round).mkString(",\n")}
        |SELECT emb.vec_id,
        |  CAST(COALESCE(d.cost, -1) AS BIGINT) AS cost_1e9
        |FROM embeddings emb LEFT JOIN d$BfsHops d
        |  ON emb.vec_id = d.vec_id""".stripMargin
      }),

    // ── Conductance of the label partition on the kNN graph — for each
    //    label S: φ(S) = cut(S) / min(vol(S), vol(V∖S)), cut = edges
    //    with exactly one endpoint in S, vol = sum of member degrees.
    //    Low φ = the label forms a genuine graph community; high φ =
    //    the labels cut across the similarity structure (an embedding-
    //    quality verdict the confusion matrix q206 can't give, because
    //    it needs the GLOBAL edge structure, not per-query votes).
    //    Two label dim joins on the undirected edge list, one keyed
    //    rollup each for cut and volume, fixed-point division — all
    //    edge-keyed, output ≤ |labels| rows.
    QueryDef(
      "q250_conductance",
      (s, dir) => {
        import s.implicits._
        val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct()
          .join(lab.select($"vec_id".as("u"), $"label".as("lu")), "u")
          .join(lab.select($"vec_id".as("v"), $"label".as("lv")), "v")
          .localCheckpoint()
        val vol = und.select($"lu".as("label"))
          .unionByName(und.select($"lv".as("label")))
          .groupBy($"label").agg(count(lit(1)).as("vol"))
        val cut = und.where($"lu" =!= $"lv")
          .select($"lu".as("label"))
          .unionByName(und.where($"lu" =!= $"lv").select($"lv".as("label")))
          .groupBy($"label").agg(count(lit(1)).as("cut"))
        val totalVol = vol.agg(sum($"vol").as("tv"))
        vol.join(cut, Seq("label"), "left")
          .crossJoin(broadcast(totalVol))
          .select($"label", $"vol",
            coalesce($"cut", lit(0L)).as("cut"),
            // greatest(1, ...) guard: with one label owning every edge
            // least(vol, tv - vol) = 0, where Spark's div yields NULL but
            // DuckDB's // errors — the guard makes degenerate fixtures
            // produce the same (meaningless-but-equal) row in both engines
            expr("coalesce(cut, CAST(0 AS BIGINT)) * 1000000000" +
              " div greatest(CAST(1 AS BIGINT), least(vol, tv - vol))")
              .as("phi_1e9"))
      },
      Some(knnEdgesCtesSql + """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |und AS MATERIALIZED (
        |  SELECT e.u, e.v, a.label AS lu, b.label AS lv
        |  FROM (SELECT DISTINCT least(src, dst) AS u,
        |      greatest(src, dst) AS v FROM edges) e
        |  JOIN lab a ON a.vec_id = e.u
        |  JOIN lab b ON b.vec_id = e.v),
        |vol AS (
        |  SELECT label, COUNT(*) AS vol FROM (
        |    SELECT lu AS label FROM und
        |    UNION ALL SELECT lv FROM und)
        |  GROUP BY 1),
        |cut AS (
        |  SELECT label, COUNT(*) AS cut FROM (
        |    SELECT lu AS label FROM und WHERE lu <> lv
        |    UNION ALL SELECT lv FROM und WHERE lu <> lv)
        |  GROUP BY 1),
        |tv AS (SELECT CAST(SUM(vol) AS BIGINT) AS tv FROM vol)
        |SELECT v.label, CAST(v.vol AS BIGINT) AS vol,
        |  CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
        |  COALESCE(c.cut, 0) * 1000000000
        |    // greatest(1, least(v.vol, tv.tv - v.vol)) AS phi_1e9
        |FROM vol v LEFT JOIN cut c ON v.label = c.label, tv"""
        .stripMargin)),

    // ── Newman modularity of the label partition on the kNN graph —
    //    conductance's (q250) global sibling: per label c,
    //    Q_c = e_c/m − (d_c/2m)², where e_c = intra-label edges, d_c =
    //    degree volume, m = total undirected edges. Positive Q_c = the
    //    label holds MORE of its edge mass than a degree-preserving
    //    random graph would give it — the standard community-quality
    //    score, and with conductance the pair every clustering eval
    //    needs. Fixed-point shape chosen for OVERFLOW SAFETY, not just
    //    determinism: the share d_c·1e6 div 2m is truncated BEFORE
    //    squaring, so every intermediate stays ≤ 1e12 regardless of
    //    graph size (the naive d_c²·1e6 blows past BIGINT at m ≈ 1.5e6).
    //    Same und/vol substrate as q250; one extra keyed agg for e_c.
    QueryDef(
      "q273_modularity",
      (s, dir) => {
        import s.implicits._
        val lab = Tables.embeddings(s, dir).select($"vec_id", $"label")
        val und = knnEdgesCached(s, dir)
          .select(least($"src", $"dst").as("u"),
            greatest($"src", $"dst").as("v"))
          .distinct()
          .join(lab.select($"vec_id".as("u"), $"label".as("lu")), "u")
          .join(lab.select($"vec_id".as("v"), $"label".as("lv")), "v")
          .localCheckpoint()
        val m = und.agg(count(lit(1)).as("m"))
        val intra = und.where($"lu" === $"lv")
          .groupBy($"lu".as("label")).agg(count(lit(1)).as("e_in"))
        val vol = und.select($"lu".as("label"))
          .unionByName(und.select($"lv".as("label")))
          .groupBy($"label").agg(count(lit(1)).as("d_sum"))
        vol.join(intra, Seq("label"), "left")
          .crossJoin(broadcast(m))
          .select($"label",
            coalesce($"e_in", lit(0L)).as("e_in"), $"d_sum", $"m")
          .withColumn("q_1e6",
            expr("e_in * 1000000 div m - " +
              "((d_sum * 1000000 div (2 * m)) * " +
              "(d_sum * 1000000 div (2 * m))) div 1000000"))
      },
      Some(knnEdgesCtesSql + """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |und AS MATERIALIZED (
        |  SELECT e.u, e.v, a.label AS lu, b.label AS lv
        |  FROM (SELECT DISTINCT least(src, dst) AS u,
        |      greatest(src, dst) AS v FROM edges) e
        |  JOIN lab a ON a.vec_id = e.u
        |  JOIN lab b ON b.vec_id = e.v),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        |intra AS (
        |  SELECT lu AS label, CAST(COUNT(*) AS BIGINT) AS e_in
        |  FROM und WHERE lu = lv GROUP BY 1),
        |vol AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS d_sum FROM (
        |    SELECT lu AS label FROM und
        |    UNION ALL SELECT lv FROM und)
        |  GROUP BY 1)
        |SELECT v.label,
        |  CAST(COALESCE(i.e_in, 0) AS BIGINT) AS e_in,
        |  v.d_sum, m.m,
        |  COALESCE(i.e_in, 0) * 1000000 // m.m
        |    - ((v.d_sum * 1000000 // (2 * m.m))
        |       * (v.d_sum * 1000000 // (2 * m.m))) // 1000000 AS q_1e6
        |FROM vol v LEFT JOIN intra i ON v.label = i.label, m"""
        .stripMargin)),

    // ── Per-seed hop-bounded harmonic centrality — q220's frontier BFS
    //    generalized to LABELED multi-source: the frontier carries its
    //    seed, so ten ego-BFS runs ride ONE sequence of keyed joins
    //    (state = (seed, vec_id, dist), anti-join per seed), and each
    //    seed reports Σ 1/d over what it reached — the coverage number
    //    that ranks index entry points ("which seed reaches the corpus
    //    cheapest"). Exact: 1e9 div d is the same integer in both
    //    engines for every d ≥ 1, so the harmonic sum never sees a
    //    float. O(hops) rounds; per-round work ∝ frontier × degree,
    //    never corpus × corpus.
    QueryDef(
      "q291_harmonic_seeds",
      (s, dir) => {
        import s.implicits._
        val ed = knnEdgesCached(s, dir).select($"src", $"dst")
        val und = ed
          .unionByName(ed.select($"dst".as("src"), $"src".as("dst")))
          .distinct().localCheckpoint()
        val seeds = Tables.embeddings(s, dir)
          .select($"vec_id").where($"vec_id" < 10)
        // r17 adaptive dispatch — q220's pattern with the labeled state:
        // per-seed ego-BFS on the driver under the measured edge cap,
        // the distributed keyed loop above it (Round17OptSpec pins
        // kernel ≡ loop including the per-seed anti-join semantics).
        val visited = graft.ext.BoundedGraph
          .bfsVisitedPerSeed(und, seeds, BfsHops).getOrElse {
            var v = seeds
              .select($"vec_id".as("seed"), $"vec_id", lit(0).as("dist"))
              .localCheckpoint()
            for (r <- 1 to BfsHops) {
              val frontier = v.where($"dist" === r - 1)
                .select($"seed", $"vec_id".as("src"))
              val next = und.join(frontier, "src")
                .select($"seed", $"dst".as("vec_id")).distinct()
                .join(v.select($"seed", $"vec_id"),
                  Seq("seed", "vec_id"), "left_anti")
                .withColumn("dist", lit(r))
              v = v.unionByName(next).localCheckpoint()
            }
            v
          }
        visited.where($"dist" > 0)
          .groupBy($"seed")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000000 div dist")).as("harmonic_1e9"))
      },
      Some {
        def round(r: Int) = s"""v$r AS MATERIALIZED (
        |  SELECT seed, vec_id, MIN(dist) AS dist FROM (
        |    SELECT seed, vec_id, dist FROM v${r - 1}
        |    UNION ALL
        |    SELECT v.seed, e.dst AS vec_id, $r AS dist
        |    FROM ed e JOIN v${r - 1} v
        |      ON e.src = v.vec_id AND v.dist = ${r - 1})
        |  GROUP BY 1, 2)"""
        s"""$knnEdgesCtesSql,
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM edges
        |    UNION ALL SELECT dst, src FROM edges)),
        |v0 AS MATERIALIZED (
        |  SELECT vec_id AS seed, vec_id, 0 AS dist
        |  FROM embeddings WHERE vec_id < 10),
        |${(1 to BfsHops).map(round).mkString(",\n")}
        |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM(1000000000 // dist) AS BIGINT) AS harmonic_1e9
        |FROM v$BfsHops WHERE dist > 0
        |GROUP BY 1""".stripMargin
      }),

    // ── kNN-graph HUBNESS profile — the high-dimensional ANN pathology
    //    check (Radovanović et al. 2010): in a healthy neighborhood graph
    //    in-degree concentrates near k; under hubness a few vectors
    //    become "hubs" appearing in everyone's top-k (poisoning retrieval
    //    diversity and dedup candidate quality) while "antihubs" are
    //    nobody's neighbor and silently unreachable. Output is the exact
    //    in-degree histogram over the q149 edge substrate (shared cache —
    //    this consumer rides free) with fixed-point shares and a
    //    cumulative share over the bounded in-degree axis (≤ max-indeg
    //    rows — the W3/q263 bounded-axis window argument; the node
    //    universe is every vector WITH out-edges, so "indeg = 0" rows ARE
    //    the antihub count, not missing data). At 100 TB: one keyed count
    //    over the edge list + one left join onto the node list — never
    //    touches embeddings.
    QueryDef(
      "q298_knn_hubness",
      (s, dir) => {
        import s.implicits._
        val edges = knnEdgesCached(s, dir).select($"src", $"dst")
        val nodes = edges.select($"src".as("vec_id")).distinct()
        val indeg = nodes
          .join(edges.groupBy($"dst".as("vec_id"))
            .agg(count(lit(1)).as("d")), Seq("vec_id"), "left")
          .select($"vec_id", coalesce($"d", lit(0L)).as("indeg"))
        val hist = indeg.groupBy($"indeg").agg(count(lit(1)).as("n_nodes"))
        val tot = hist.agg(sum($"n_nodes").as("n_total"))
        val w = Window.orderBy($"indeg".asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        // linear 1e9 terms route through DECIMAL(38,0) (the q297/q282
        // overflow rule: n_nodes is corpus-sized, so n_nodes*1e9 overflows
        // BIGINT past ~9.2e9 nodes); div on decimals yields LongType, the
        // CAST pins the gate schema to int64 either way.
        hist.crossJoin(broadcast(tot))
          .withColumn("cum", sum($"n_nodes").over(w))
          .select($"indeg", $"n_nodes",
            expr("CAST(CAST(n_nodes AS DECIMAL(38,0)) * 1000000000" +
              " div n_total AS BIGINT)").as("share_1e9"),
            expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000000" +
              " div n_total AS BIGINT)").as("cum_share_1e9"))
      },
      Some {
        s"""$knnEdgesCtesSql,
        |nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
        |ind AS (
        |  SELECT n.vec_id, COALESCE(d.d, 0) AS indeg
        |  FROM nodes n LEFT JOIN (
        |    SELECT dst AS vec_id, COUNT(*) AS d FROM edges GROUP BY 1) d
        |    ON n.vec_id = d.vec_id),
        |hist AS (
        |  SELECT indeg, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM ind GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_total FROM hist)
        |SELECT indeg, n_nodes,
        |  CAST(CAST(n_nodes AS HUGEINT) * 1000000000 // n_total
        |    AS BIGINT) AS share_1e9,
        |  CAST(CAST(SUM(n_nodes) OVER (ORDER BY indeg ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |    * 1000000000 // n_total AS BIGINT) AS cum_share_1e9
        |FROM hist, tot""".stripMargin
      })
  )

  /** BFS hop budget for q220 (and the unrolled depth of its oracle). */
  val BfsHops = 4

  /** 1e9-scaled NDCG discount weights 1/log2(rank+1) — irrational, so
    * both engines consume these exact integer literals. floor(1e9/log2(3))
    * is computed once here; the Spark plan and the oracle SQL interpolate
    * the same values, so no runtime log/float enters either engine.
    */
  val NdcgW1: Long = 1000000000L
  val NdcgW2: Long = (1e9 / (math.log(3.0) / math.log(2.0))).toLong
  val NdcgW3: Long = 500000000L

  /** Ideal DCG@3: all three neighbors relevant. */
  val NdcgIdcg: Long = NdcgW1 + NdcgW2 + NdcgW3

  /** k-core peel-round cap: fail-loud bound for the Spark fixpoint loop
    * and the unrolled depth of the q214 oracle (post-fixpoint rounds are
    * no-ops, so the oracle can safely over-unroll). */
  val KcoreMaxRounds = 20

  /** Hash tables × planes-per-table for the multi-table LSH near-dup. */
  val LshTables = 3
  val LshTablePlanes = 8

  /** Oracle CTE chain replaying the full kNN-edge substrate (LSH bands →
    * candidates → exact rescore → top-3 ranks) through `edges AS
    * MATERIALIZED`; q149 and q171 append their final SELECTs to it — the
    * SQL twin of [[knnEdgesCached]].
    */
  private def knnEdgesCtesSql: String = {
    val perTable = (0 until LshTables).map { t =>
      val sig = (t * LshTablePlanes until (t + 1) * LshTablePlanes)
        .map(p => s"b$p").mkString(" || ")
      s"SELECT vec_id, $t AS table_id, $sig AS bucket FROM bits"
    }.mkString("\n  UNION ALL ")
    s"""WITH terms AS (
    |  SELECT vec_id, embedding AS e,
    |    unnest(generate_series(1, len(embedding))) AS i
    |  FROM embeddings),
    |bits AS MATERIALIZED (
    |  SELECT vec_id,
    |    ${planeBitsSql(LshTables * LshTablePlanes)}
    |  FROM terms GROUP BY 1),
    |bands AS (
    |  $perTable),
    |cand AS (
    |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    |  FROM bands a JOIN bands b
    |    ON a.table_id = b.table_id AND a.bucket = b.bucket
    |      AND a.vec_id <> b.vec_id),
    |e AS (SELECT vec_id, embedding FROM embeddings),
    |rterms AS (
    |  SELECT src, dst, a.embedding AS ea, b.embedding AS eb,
    |    unnest(generate_series(1, len(a.embedding))) AS i
    |  FROM cand JOIN e a ON src = a.vec_id JOIN e b ON dst = b.vec_id),
    |dots AS (
    |  SELECT src, dst,
    |    ${dotSql("ea", "eb")} AS dot,
    |    ${dotSql("ea", "ea")} AS na,
    |    ${dotSql("eb", "eb")} AS nb
    |  FROM rterms GROUP BY src, dst, ea, eb),
    |scored AS (
    |  SELECT src, dst,
    |    ROUND(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb))
    |         ELSE 0.0 END, 9) AS cos
    |  FROM dots),
    |edges AS MATERIALIZED (
    |  SELECT src, dst, CAST(rank AS INT) AS rank, cos FROM (
    |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
    |      ORDER BY cos DESC, dst ASC) AS rank
    |    FROM scored)
    |  WHERE rank <= 3)""".stripMargin
  }

  /** Oracle fragment: one `'1'/'0'` sign bit per hyperplane, matching
    * [[graft.ext.Similarity.lshSignature]]'s decimal projection exactly.
    */
  private def planeBitsSql(nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      s"""CASE WHEN SUM(CAST(CAST(e[i] AS DOUBLE) *
         | (CASE WHEN ('0x' || substr(md5('plane$p:' || CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
         |  THEN 1.0 ELSE -1.0 END) AS DECIMAL(30,18))) >= 0 THEN '1' ELSE '0' END AS b$p""".stripMargin
    }.mkString(",\n    ")
}
