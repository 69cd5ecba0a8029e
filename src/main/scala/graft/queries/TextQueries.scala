package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star text-analysis operators over the `documents` table
  * (token counting, quality scoring, language ID, fingerprinting, exact
  * dedup). All pure narrow transformations or hash-groupBys — linear scans
  * that parallelize trivially at 100 TB.
  */
object TextQueries {

  /** Session-scoped char-trigram substrate (doc_id, lang, trigram) —
    * one corpus-scale explode shared by its consumers (q50 language ID
    * uses it with `lang`; q91 LM scoring projects it down).
    * Benched as its own named line (q00c_sub_trigrams,
    * [[graft.Substrates]]); consumers measure warm.
    */
  private val trigramCache = graft.SessionCaches
    .memo[String, org.apache.spark.sql.DataFrame]("q00c_sub_trigrams")

  private[graft] def trigramsCached(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    trigramCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      import s.implicits._
      val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", norm.as("norm"))
        .where(length($"norm") >= 3)
        .select($"doc_id", $"lang",
          explode(sequence(lit(1), length($"norm") - 2)).as("i"), $"norm")
        .select($"doc_id", $"lang", $"norm".substr($"i", lit(3)).as("trigram"))
        .localCheckpoint()
    })

  /** Session-scoped marker lang-ID substrate (doc_id, source, lang,
    * score_en..score_es, pred_lang) — one corpus scan evaluating the
    * tokenize + 4×filter-lambda marker scoring, shared by every eval-side
    * consumer (q32 emits it, q288 calibrates score_en, q289 computes kappa
    * on pred_lang). The lambda scan is the whole cost of those queries
    * (interpreted higher-order array functions, r8's q288/q289 regression),
    * so it's paid ONCE per session like the trigram substrate. At cluster
    * scale this is a persisted enrichment column, not a per-query pass.
    * NOTE: the composed one-scan pipelines (q62/q135/q143) deliberately do
    * NOT use this — their design claim is "all signals from one projection".
    */
  private val langScoreCache = graft.SessionCaches
    .memo[String, org.apache.spark.sql.DataFrame]("q00d_sub_langscores")

  private[graft] def langScoresCached(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    langScoreCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      import s.implicits._
      val cols = TextAnalysis.langIdColumns($"text")
      Tables.documents(s, dir)
        .select($"doc_id" +: $"source" +: $"lang" +:
          cols.map { case (n, c) => c.as(n) }: _*)
        .localCheckpoint()
    })

  private val stopwordListSql =
    TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  def defs: Seq[QueryDef] = Seq(

    // ── Corpus length profiling: exact interpolated percentiles per source.
    //    Exact `percentile` buffers each group's values (ObjectHashAggregate)
    //    — correct here because groups are few and bounded; the 100 TB path
    //    for high-cardinality groups is approx_percentile (t-digest sketch,
    //    mergeable map-side). Rounded to 6 decimals: interpolation arithmetic
    //    differs by ulps across engines, never by 1e-6 on integer inputs.
    QueryDef(
      "q29_length_percentiles",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .groupBy($"source")
          .agg(
            expr("round(percentile(n_chars, 0.5), 6)").as("p50_chars"),
            expr("round(percentile(n_chars, 0.9), 6)").as("p90_chars"),
            expr("round(percentile(n_chars, 0.99), 6)").as("p99_chars"),
            min($"n_chars").as("min_chars"),
            max($"n_chars").as("max_chars"),
            count(lit(1)).as("n_docs"))
      },
      Some("""SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
        |  round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin)),

    // ── Token counting (whitespace tokenization; codegen'd split/size).
    QueryDef(
      "q30_token_stats",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            TextAnalysis.tokenCount($"text").as("n_tokens"),
            length($"text").as("n_chars_measured"),
            $"n_chars")
      },
      Some("""SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) END AS n_tokens,
        |CAST(length(text) AS INT) AS n_chars_measured, n_chars
        |FROM documents""".stripMargin)),

    // ── Quality scoring: char-class ratios + stopword density + composite
    //    score; per-row double math, no aggregation → exact cross-engine.
    QueryDef(
      "q31_quality_score",
      (s, dir) => {
        import s.implicits._
        val cols = TextAnalysis.qualityColumns($"text")
        Tables.documents(s, dir)
          .select($"doc_id" +: cols.map { case (n, c) => c.as(n) }: _*)
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len, CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    len - CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit,
        |    CAST(len(list_filter(toks, t -> list_contains($stopwordListSql, t))) AS DOUBLE) AS n_stop,
        |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) AS n_nonspace
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN len > 0 THEN n_punct / len ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len > 0 THEN n_digit / len ELSE 0.0 END AS digit_ratio,
        |  CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stopword_ratio,
        |  CASE WHEN n_tok > 0 THEN n_nonspace / n_tok ELSE 0.0 END AS avg_token_len,
        |  least(len / 500.0, 1.0) * 0.4
        |    + least((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |    + greatest(1.0 - (CASE WHEN len > 0 THEN n_punct / len ELSE 0.0 END) * 10.0, 0.0) * 0.2
        |    AS quality_score
        |FROM r""".stripMargin)),

    // ── Heuristic language ID: marker-word density per language, argmax
    //    with fixed tie-break order (en, de, fr, es; 'und' when no markers).
    QueryDef(
      "q32_lang_id",
      (s, dir) => {
        import s.implicits._
        langScoresCached(s, dir)
          .select($"doc_id", $"lang".as("lang_labeled"),
            $"score_en", $"score_de", $"score_fr", $"score_es", $"pred_lang")
      },
      Some {
        val markerSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / n_tok ELSE 0.0 END AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, lang, toks, CAST(len(toks) AS DOUBLE) AS n_tok FROM t),
        |s AS (
        |  SELECT doc_id, lang,
        |    $markerSql
        |  FROM n)
        |SELECT doc_id, lang AS lang_labeled, score_en, score_de, score_fr, score_es,
        |  CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0.0 THEN 'und'
        |       WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
        |       WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
        |       WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM s""".stripMargin
      }),

    // ── Char-trigram language ID, self-trained: pass 1 builds a top-30
    //    trigram profile per labeled language (occurrence counts,
    //    deterministic (cnt DESC, trigram ASC) cut); pass 2 scores every
    //    doc by the profile-matched share of its trigram occurrences and
    //    argmaxes. The profile is
    //    broadcast-sized by construction (30 × #languages rows); the doc
    //    side is one linear explode + two groupBys. Character semantics
    //    (substr/length) are per-codepoint in both engines, so CJK text
    //    trigram-izes identically.
    QueryDef(
      "q50_lang_trigram",
      (s, dir) => {
        import s.implicits._
        val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
        val docs = Tables.documents(s, dir)
          .select($"doc_id", $"lang", norm.as("norm"))
        // occurrence-frequency substrate (each trigram counted every time
        // it appears): position explode + substr stay fully codegen'd with
        // no dedup pass at all — higher-order transform/array_distinct
        // lambdas would run interpreted, and a row-level DISTINCT would
        // shuffle the raw substrate. Guard: Spark's sequence() errors when
        // stop < start; sub-3-char docs drop here and re-enter as 'und'
        // via the final left join. Materialized once in the SESSION cache
        // (shared with q91's LM scoring) — measured: recomputing the
        // explode per consumer costs ~2× the checkpoint at sf0.1.
        // Per-doc sizes come from arithmetic and totals derive from counts,
        // so neither rescans the substrate.
        val tg = trigramsCached(s, dir)
        // profile = top-30 DISTINCTIVE trigrams per language: a trigram
        // qualifies only when this language owns >= 40% of its occurrences
        // (common trigrams appear in every profile and carry no signal)
        val byLang = Window.partitionBy($"p_lang")
          .orderBy($"cnt".desc, $"trigram".asc)
        val counts = tg.groupBy($"lang".as("p_lang"), $"trigram")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        // totals re-aggregate the (lang, trigram) counts — never rescan tg
        val totals = counts.groupBy($"trigram").agg(sum($"cnt").as("tot"))
        val profile = counts.join(totals, Seq("trigram"))
          .where($"cnt".cast("double") / $"tot".cast("double") >= 0.4)
          .withColumn("rn", row_number().over(byLang))
          .where($"rn" <= 30)
          .select($"p_lang", $"trigram")
        // occurrence count per doc is pure arithmetic — no substrate scan
        val sizes = docs.where(length($"norm") >= 3)
          .select($"doc_id", (length($"norm") - 2).cast("long").as("n_tg"))
        val matches = tg.join(broadcast(profile), Seq("trigram"))
          .groupBy($"doc_id", $"p_lang").agg(count(lit(1)).as("m"))
        val byScore = Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"p_lang".asc)
        val best = matches.join(sizes, Seq("doc_id"))
          .select($"doc_id", $"p_lang",
            ($"m".cast("double") / $"n_tg".cast("double")).as("score"))
          .withColumn("rn", row_number().over(byScore))
          .where($"rn" === 1)
        docs.select($"doc_id", $"lang".as("lang_labeled"))
          .join(best.select($"doc_id", $"p_lang", $"score"), Seq("doc_id"), "left")
          .select($"doc_id", $"lang_labeled",
            coalesce($"p_lang", lit("und")).as("pred_lang"),
            round(coalesce($"score", lit(0.0)), 9).as("score"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, lang, substr(norm, i, 3) AS trigram
        |  FROM (SELECT doc_id, lang, norm,
        |        unnest(generate_series(1, length(norm) - 2)) AS i FROM d)),
        |cnts AS (
        |  SELECT lang AS p_lang, trigram, COUNT(*) AS cnt
        |  FROM tg GROUP BY 1, 2),
        |tots AS (SELECT trigram, SUM(cnt) AS tot FROM cnts GROUP BY 1),
        |prof AS (
        |  SELECT p_lang, trigram FROM (
        |    SELECT c.p_lang, c.trigram,
        |      ROW_NUMBER() OVER (PARTITION BY c.p_lang
        |        ORDER BY c.cnt DESC, c.trigram ASC) AS rn
        |    FROM cnts c JOIN tots t ON c.trigram = t.trigram
        |    WHERE c.cnt * 1.0 / t.tot >= 0.4)
        |  WHERE rn <= 30),
        |sz AS (SELECT doc_id, COUNT(*) AS n_tg FROM tg GROUP BY 1),
        |m AS (
        |  SELECT tg.doc_id, prof.p_lang, COUNT(*) AS m
        |  FROM tg JOIN prof ON tg.trigram = prof.trigram
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, p_lang, score FROM (
        |    SELECT m.doc_id, m.p_lang,
        |      m.m * 1.0 / sz.n_tg AS score,
        |      ROW_NUMBER() OVER (PARTITION BY m.doc_id
        |        ORDER BY m.m * 1.0 / sz.n_tg DESC, m.p_lang ASC) AS rn
        |    FROM m JOIN sz ON m.doc_id = sz.doc_id)
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.lang AS lang_labeled,
        |  COALESCE(best.p_lang, 'und') AS pred_lang,
        |  ROUND(COALESCE(best.score, 0.0), 9) AS score
        |FROM d LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin)),

    // ── Document fingerprinting: md5 of normalized text + 60-bit numeric
    //    form (rolling-hash stand-in; same value both engines).
    QueryDef(
      "q33_fingerprint",
      (s, dir) => {
        import s.implicits._
        val cols = TextAnalysis.fingerprintColumns($"text")
        Tables.documents(s, dir)
          .select($"doc_id" +: cols.map { case (n, c) => c.as(n) }: _*)
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp_num
        |FROM t""".stripMargin)),

    // ── Exact deduplication: hash-groupBy on the normalized fingerprint;
    //    keeper = min doc_id per group, duplicate count and member list.
    //    This is the 100 TB-scale exact-dedup shape: one shuffle on a
    //    64/128-bit hash key, no pairwise comparison.
    QueryDef(
      "q34_dedup_exact",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("fp"))
          .groupBy($"fp")
          .agg(
            min($"doc_id").as("keeper_doc_id"),
            count(lit(1)).as("n_copies"),
            array_join(array_sort(collect_list($"doc_id".cast("string"))), ",")
              .as("member_ids"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS member_ids
        |FROM t GROUP BY fp""".stripMargin)),

    // ── Within-document repetition (the Gopher-style boilerplate signal):
    //    occupancy of the most frequent word bigram. One narrow bigram
    //    explode + two keyed aggregations, both partial-agg'd map-side —
    //    per-doc work is linear in tokens, no cross-document anything.
    QueryDef(
      "q66_repetition",
      (s, dir) => {
        import s.implicits._
        val w = TextAnalysis.tokens($"text")
        Tables.documents(s, dir)
          .select($"doc_id", w.as("w"))
          .where(size($"w") >= 2)
          .select($"doc_id",
            explode(transform(sequence(lit(1), size($"w") - 1), i =>
              concat_ws(" ", element_at($"w", i), element_at($"w", i + 1))))
              .as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(max($"c").as("top_bigram_count"), sum($"c").as("n_bigrams"))
          .select($"doc_id", $"top_bigram_count", $"n_bigrams",
            ($"top_bigram_count".cast("double") / $"n_bigrams".cast("double"))
              .as("top_bigram_ratio"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM t WHERE len(w) >= 2)),
        |c AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, MAX(c) AS top_bigram_count,
        |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_ratio
        |FROM c GROUP BY doc_id""".stripMargin)),

    // ── Per-source vocabulary richness: type/token counts and the
    //    type-token ratio — the corpus-diversity stat a data-mixing step
    //    reads per source. countDistinct is Spark's two-phase exact
    //    distinct (partial dedup map-side, one shuffle on (source, token)).
    QueryDef(
      "q67_source_vocab",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"source", explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"source")
          .agg(countDistinct($"token").as("n_types"),
            count(lit(1)).as("n_tokens"))
          .select($"source", $"n_types", $"n_tokens",
            ($"n_types".cast("double") / $"n_tokens".cast("double"))
              .as("type_token_ratio"))
      },
      Some("""WITH t AS (
        |  SELECT source,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE string_split_regex(lower(trim(text)), '\s+') END) AS token
        |  FROM documents)
        |SELECT source, COUNT(DISTINCT token) AS n_types,
        |  COUNT(*) AS n_tokens,
        |  CAST(COUNT(DISTINCT token) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS type_token_ratio
        |FROM t GROUP BY source""".stripMargin)),

    // ── END-TO-END corpus curation: the composed preprocessing pass a
    //    training pipeline actually runs — quality scoring + language ID +
    //    exact-dedup keeper selection in ONE query. All signals come out of
    //    a single narrow codegen'd projection (one scan of the corpus);
    //    the only shuffle is the dedup hash partition on the content
    //    fingerprint. Filters: keeper only, quality ≥ 0.5, identified
    //    language. This is the shape that matters at 100 TB: adding a
    //    signal costs zero extra passes.
    QueryDef(
      "q62_curation",
      (s, dir) => {
        import s.implicits._
        val qc = TextAnalysis.qualityColumns($"text").toMap
        val lc = TextAnalysis.langIdColumns($"text").toMap
        val enriched = Tables.documents(s, dir).select($"doc_id",
          qc("quality_score").as("quality_score"),
          qc("n_tokens").as("n_tokens"),
          lc("pred_lang").as("pred_lang"),
          md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("fp"))
        val byFp = Window.partitionBy($"fp")
        enriched
          .withColumn("keeper", min($"doc_id").over(byFp))
          .where($"doc_id" === $"keeper" &&
            $"quality_score" >= 0.5 && $"pred_lang" =!= "und")
          .select($"doc_id", $"pred_lang", $"quality_score", $"n_tokens")
      },
      Some {
        val markerSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / n_tok ELSE 0.0 END AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH t AS (
        |  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, fp, toks, len, CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(toks, t -> list_contains($stopwordListSql, t))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (
        |  SELECT doc_id, fp, toks, n_tok, n_tokens,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0 THEN n_punct / len ELSE 0.0 END) * 10.0, 0.0) * 0.2
        |      AS quality_score
        |  FROM r),
        |l AS (
        |  SELECT doc_id,
        |    $markerSql
        |  FROM q),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0.0 THEN 'und'
        |         WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
        |         WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
        |         WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
        |         ELSE 'es' END AS pred_lang
        |  FROM l),
        |sel AS (
        |  SELECT q.doc_id, p.pred_lang, q.quality_score, q.n_tokens,
        |    MIN(q.doc_id) OVER (PARTITION BY q.fp) AS keeper
        |  FROM q JOIN p ON q.doc_id = p.doc_id)
        |SELECT doc_id, pred_lang, quality_score, n_tokens
        |FROM sel
        |WHERE doc_id = keeper AND quality_score >= 0.5 AND pred_lang <> 'und'""".stripMargin
      }),

    // ── Sketch-based corpus profile — the 100 TB path q29's comment names,
    //    now gated. Exact percentile/distinct buffer whole groups;
    //    approx_percentile (Greenwald-Khanna) and approx_count_distinct
    //    (HyperLogLog++) are mergeable fixed-size sketches that partial-agg
    //    map-side, which is what high-cardinality profiling must use at
    //    scale. Sketches aren't bit-replayable across engines, so the gate
    //    uses exactness-window ASSERTIONS evaluated in-engine: the exact
    //    per-source stats (n_docs / sum_len / n_distinct_len) hash-compare
    //    against DuckDB, and the sketch columns are booleans that hold iff
    //    the sketch landed inside its error window (HLL within
    //    max(5%, ±2) of the exact distinct count; the GK median's rank
    //    within [frac_lt ≤ 0.5 ≤ frac_le] — i.e. it IS a valid median
    //    element). The oracle emits literal TRUE: a drifting sketch fails
    //    the hash gate loudly.
    QueryDef(
      "q68_sketch_profile",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .select($"source", length($"text").as("len"))
        // the 20-row sketch aggregate feeds the rank-check join AND the
        // final assertion join, so the sketch pass evaluates twice — and
        // that is the CHEAPER option: an eager localCheckpoint here
        // measured 5x slower end-to-end (0.7s → 3s+ steady-state at
        // sf0.1), because it splits one pipelined job into three and
        // serializes the 2^18-register HLL buffers through the block
        // manager, while each duplicate agg pass is a sub-second scan.
        // (Contrast with q61/q36, where the duplicated subplan is the
        // expensive substrate itself — materialize-vs-recompute is a
        // measured call per query, not a blanket rule.)
        val sk = docs.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"len").cast("long").as("sum_len"),
          countDistinct($"len").as("n_distinct_len"),
          approx_count_distinct($"len", rsd = 0.01).as("_hll"),
          percentile_approx($"len", lit(0.5), lit(10000)).as("_p50"))
        val ranked = docs
          .join(broadcast(sk.select($"source", $"_p50")), "source")
          .groupBy($"source").agg(
            (sum(when($"len" <= $"_p50", 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("_frac_le"),
            (sum(when($"len" < $"_p50", 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("_frac_lt"))
        // rank window = GK's actual guarantee (rank error <= n/accuracy,
        // i.e. 1e-4 of mass) with 10x headroom — demanding an EXACT median
        // would spuriously fail once a group outgrows the accuracy budget,
        // the precise regime this sketch exists for
        sk.join(ranked, "source").select($"source", $"n_docs", $"sum_len",
          $"n_distinct_len",
          (abs($"_hll" - $"n_distinct_len").cast("double") <=
            greatest($"n_distinct_len" * 0.05, lit(2.0))).as("hll_ok"),
          ($"_frac_le" >= 0.499 && $"_frac_lt" <= 0.501).as("p50_ok"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  CAST(COUNT(DISTINCT length(text)) AS BIGINT) AS n_distinct_len,
        |  TRUE AS hll_ok, TRUE AS p50_ok
        |FROM documents GROUP BY source""".stripMargin)),

    // ── Distributed closed-form linear probe — the linear-model quality
    //    scorer curation pipelines train (fasttext-style linear classifiers
    //    / regression probes): fit y = b0 + b1·x1 + b2·x2 by ordinary
    //    least squares SOLVED IN CLOSED FORM from the moment matrix.
    //    The 100 TB shape: ALL training reduces to one partial-agg'd scan
    //    producing nine integer moments (features here are ints, so the
    //    sums are exact bigints — no float order-dependence at any scale);
    //    the 3×3 normal-equation solve is scalar Cramer arithmetic on the
    //    broadcast 1-row moment frame, written as the IDENTICAL fixed-order
    //    expression in both engines; scoring is a broadcast of 3 doubles
    //    onto a map stage. Probe: predict token count from chars +
    //    vocabulary size; the residual is the anomaly signal (docs whose
    //    tokenization deviates from the corpus line).
    QueryDef(
      "q71_linear_probe",
      (s, dir) => {
        import s.implicits._
        val f = Tables.documents(s, dir).select($"doc_id",
          $"n_chars".cast("long").as("x1"),
          size(array_distinct(TextAnalysis.tokens($"text"))).cast("long").as("x2"),
          TextAnalysis.tokenCount($"text").cast("long").as("y"))
        graft.ext.LinearProbe.fitAndScore(f)
          .select($"doc_id", $"y".cast("int").as("n_tokens"),
            $"pred".as("pred_tokens"), $"residual")
      },
      Some("""WITH f AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x1,
        |    CAST(len(list_distinct(CASE WHEN length(trim(text)) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(text)), '\s+') END)) AS BIGINT) AS x2,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) END AS y
        |  FROM documents),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(x1) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(x2) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS s2y
        |  FROM f),
        |mm AS (
        |  SELECT *, (s11 * s22 - s12 * s12) AS m00,
        |    (s1 * s22 - s12 * s2) AS m01,
        |    (s1 * s12 - s11 * s2) AS m02
        |  FROM m),
        |d AS (
        |  SELECT (n * m00 - s1 * m01 + s2 * m02) AS det,
        |    (sy * m00 - s1y * (s1 * s22 - s2 * s12) +
        |      s2y * (s1 * s12 - s2 * s11)) AS det0,
        |    (n * (s1y * s22 - s12 * s2y) -
        |      sy * (s1 * s22 - s12 * s2) +
        |      s2 * (s1 * s2y - s1y * s2)) AS det1,
        |    (n * (s11 * s2y - s1y * s12) -
        |      s1 * (s1 * s2y - s1y * s2) +
        |      sy * (s1 * s12 - s11 * s2)) AS det2
        |  FROM mm),
        |sol AS (SELECT det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |  FROM d)
        |SELECT f.doc_id, CAST(f.y AS INT) AS n_tokens,
        |  ROUND(b0 + b1 * f.x1 + b2 * f.x2, 6) AS pred_tokens,
        |  ROUND(f.y - (b0 + b1 * f.x1 + b2 * f.x2), 6) AS residual
        |FROM f CROSS JOIN sol""".stripMargin)),

    // ── DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    //    score every raw-pool document by how target-like its hashed
    //    n-gram feature distribution is. Features are 60-bit-hashed letter
    //    tokens folded into 1024 buckets; the target pool is source 'src0'
    //    (the q65 held-out convention). Instead of the paper's log-
    //    likelihood ratio Σ log(p_t(f)/p_r(f)) — logs are not correctly
    //    rounded and engine-dependent — each feature carries the INTEGER
    //    cross-difference w_f = tcount_f·R − rcount_f·T (same sign as the
    //    ratio test p_t(f) > p_r(f); exact DECIMAL(38,0) at any corpus
    //    scale), and a doc's score is the exact decimal sum of its token
    //    weights, converted once to double. Scale shape: the feature table
    //    is 1024 rows BY CONSTRUCTION (broadcast at any corpus size), the
    //    totals are a 1-row agg over it, and the corpus sees exactly two
    //    narrow explode passes (count features, score docs) plus one keyed
    //    per-doc agg — no corpus-sized join keys beyond doc_id.
    QueryDef(
      "q75_dsir_score",
      (s, dir) => {
        import s.implicits._
        graft.ext.Selection.dsirScores(
          Tables.documents(s, dir), "doc_id", "text",
          isTarget = $"source" === "src0")
      },
      Some("""WITH dt AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS f
        |  FROM dt),
        |feat AS (
        |  SELECT f,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tcount,
        |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS rcount
        |  FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tcount) AS BIGINT) AS t_total,
        |    CAST(SUM(rcount) AS BIGINT) AS r_total FROM feat),
        |w AS (SELECT f,
        |    CAST(tcount AS DECIMAL(19,0)) * CAST(r_total AS DECIMAL(19,0)) -
        |      CAST(rcount AS DECIMAL(19,0)) * CAST(t_total AS DECIMAL(19,0)) AS w
        |  FROM feat CROSS JOIN tot),
        |per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(w) AS score
        |  FROM tf JOIN w USING (f) WHERE source <> 'src0' GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
        |  CAST(COALESCE(per.score, 0) AS DOUBLE) AS dsir_score,
        |  CAST(COALESCE(per.score, 0) AS DOUBLE) > 0.0 AS target_like
        |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        |LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin)),

    // ── PII detection + redaction — the scrubbing pass every web-scale
    //    training corpus runs before release (emails, URLs, phone numbers
    //    found by regex, counted, and replaced with typed placeholders).
    //    The fixture corpus contains no natural PII, so the query first
    //    INJECTS deterministic synthetic contact strings keyed on doc_id
    //    (both engines perform the identical injection — the redaction
    //    machinery is then genuinely exercised with nonzero, per-doc-varying
    //    counts). Patterns restrict to syntax with identical semantics in
    //    Java regex (Spark, codegen'd) and RE2 (DuckDB): character classes,
    //    bounded + unbounded repetition — no backreferences or lookaround.
    //    Scale shape: a pure narrow map stage (three pattern scans + three
    //    replaces per row), no shuffle at all — the scrub runs at scan
    //    throughput on any corpus size.
    QueryDef(
      "q82_pii_redact",
      (s, dir) => {
        import s.implicits._
        val email = TextAnalysis.EmailPattern
        val url   = TextAnalysis.UrlPattern
        val phone = TextAnalysis.PhonePattern
        val injected = Tables.documents(s, dir)
          .select($"doc_id", concat($"text",
            when($"doc_id" % 2 === 0, concat(lit(" contact user"),
              $"doc_id".cast("string"), lit("@example.com"))).otherwise(lit("")),
            when($"doc_id" % 3 === 0, concat(lit(" see https://docs.example.org/d/"),
              $"doc_id".cast("string"))).otherwise(lit("")),
            when($"doc_id" % 5 === 0, concat(lit(" call +1-555-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
            .as("text"))
        injected.select($"doc_id",
          size(regexp_extract_all($"text", lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all($"text", lit(url), lit(0))).as("n_urls"),
          size(regexp_extract_all($"text", lit(phone), lit(0))).as("n_phones"),
          length(TextAnalysis.redactPii($"text")).as("redacted_len"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' see https://docs.example.org/d/' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[a-z0-9./_-]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[a-z0-9./_-]+', '<URL>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS INT) AS redacted_len
        |FROM t""".stripMargin)),

    // ── Phrase detection (Mikolov et al. 2013, word2vec §4): score each
    //    adjacent-token bigram by lift, score = (c_ab − δ)·N / (c_a·c_b)
    //    with discount δ = 5 — the standard pre-tokenization pass that
    //    promotes collocations ("new york") to single vocabulary units.
    //    The score is three correctly-rounded IEEE ops (mult, mult, divide)
    //    over exact integer counts in a pinned order, so both engines emit
    //    identical doubles (the q73 linear-idf argument). Scale shape: one
    //    narrow zip-shifted explode (bigrams materialize per row, never a
    //    positional self-join), two keyed count aggs — the bigram table is
    //    vocab²-bounded, the unigram table vocab-bounded (broadcast), and
    //    the final top-20 is a TakeOrderedAndProject.
    QueryDef(
      "q86_phrases",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select(TextAnalysis.tokens($"text").as("w"))
        val n1 = greatest(size($"w") - 1, lit(0))
        val bi = toks
          .select(explode(zip_with(
            slice($"w", lit(1), n1), slice($"w", lit(2), n1),
            (x, y) => struct(x.as("wa"), y.as("wb")))).as("p"))
          .select($"p.wa", $"p.wb")
          .groupBy($"wa", $"wb").agg(count(lit(1)).as("c_ab"))
        val uni = toks.select(explode($"w").as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum($"c").as("n_tokens"))
        val scored = bi.where($"c_ab" >= 10)
          .join(broadcast(uni.select($"tok".as("wa"), $"c".as("c_a"))), "wa")
          .join(broadcast(uni.select($"tok".as("wb"), $"c".as("c_b"))), "wb")
          .crossJoin(broadcast(tot))
          .select($"wa", $"wb", $"c_ab", $"c_a", $"c_b",
            ((($"c_ab" - 5).cast("double") * $"n_tokens".cast("double")) /
              ($"c_a".cast("double") * $"c_b".cast("double"))).as("lift"))
        scored.orderBy($"lift".desc, $"wa".asc, $"wb".asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy($"lift".desc, $"wa".asc, $"wb".asc)).cast("int"))
      },
      Some("""WITH t AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |bi AS (
        |  SELECT w[i] AS wa, w[i + 1] AS wb, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t)
        |  GROUP BY 1, 2),
        |uni AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(w) AS tok FROM t) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        |scored AS (
        |  SELECT wa, wb, c_ab, ua.c AS c_a, ub.c AS c_b,
        |    (CAST(c_ab - 5 AS DOUBLE) * CAST(n_tokens AS DOUBLE)) /
        |      (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
        |  FROM bi JOIN uni ua ON bi.wa = ua.tok
        |    JOIN uni ub ON bi.wb = ub.tok
        |    CROSS JOIN tot
        |  WHERE c_ab >= 10)
        |SELECT wa, wb, c_ab, c_a, c_b, lift, CAST(rn AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, wa ASC, wb ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 20""".stripMargin)),

    // ── LM-frequency quality scoring — the log-free analog of CCNet's
    //    (Wenzek et al. 2019) perplexity filter: train a character-trigram
    //    unigram LM over the corpus (P(t) = count/total) and score each
    //    document by the MEAN corpus probability of its trigram instances.
    //    Atypical character soup scores low, corpus-typical text scores
    //    high — the same ordering a perplexity filter produces, but every
    //    number here is one pinned-order division of exact integer counts
    //    (no logs, which are libm-dependent). The low_quality flag
    //    thresholds at 0.7× the corpus mean score (mean via the
    //    floor-fixed-point tavg, so the threshold is bit-identical in both
    //    engines). Scale shape: the trigram LM table is charset³-bounded
    //    (broadcast at any corpus size — the same boundedness argument as
    //    q75's hashed features), the substrate is checkpointed once for
    //    its two consumers, and scoring is one keyed join + per-doc agg.
    QueryDef(
      "q91_lm_score",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select($"doc_id")
        // shared session substrate (built by q50 or here, whoever first)
        val tg = trigramsCached(s, dir).select($"doc_id", $"trigram")
        val counts = tg.groupBy($"trigram").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum($"cnt").as("t_total"))
        val per = tg.join(broadcast(counts), "trigram")
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("cnt_sum"), count(lit(1)).as("n_tg"))
        val scored = per.crossJoin(broadcast(tot))
          .select($"doc_id", $"n_tg",
            ($"cnt_sum".cast("double") /
              ($"n_tg".cast("double") * $"t_total".cast("double")))
              .as("lm_score"))
        val thr = scored.agg((QueryDef.tavg($"lm_score") * lit(0.7)).as("thr"))
        docs.select($"doc_id")
          .join(scored, Seq("doc_id"), "left")
          .crossJoin(broadcast(thr))
          .select($"doc_id",
            coalesce($"n_tg", lit(0L)).as("n_tg"),
            coalesce($"lm_score", lit(0.0)).as("lm_score"),
            (coalesce($"lm_score", lit(0.0)) < $"thr").as("low_quality"))
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, substr(norm, i, 3) AS trigram
        |  FROM (SELECT doc_id, norm,
        |      unnest(generate_series(1, length(norm) - 2)) AS i
        |    FROM d WHERE length(norm) >= 3)),
        |cnts AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM cnts),
        |per AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS cnt_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n_tg
        |  FROM tg JOIN cnts USING (trigram) GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, n_tg,
        |    CAST(cnt_sum AS DOUBLE) /
        |      (CAST(n_tg AS DOUBLE) * CAST(t_total AS DOUBLE)) AS lm_score
        |  FROM per CROSS JOIN tot),
        |thr AS (SELECT ${QueryDef.tavgSql("lm_score")} * CAST(0.7 AS DOUBLE) AS thr
        |  FROM scored)
        |SELECT d.doc_id, COALESCE(s.n_tg, 0) AS n_tg,
        |  COALESCE(s.lm_score, 0.0) AS lm_score,
        |  COALESCE(s.lm_score, 0.0) < thr AS low_quality
        |FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id CROSS JOIN thr""".stripMargin)),

    // ── Group-wise z-score normalization — the feature-engineering pass
    //    that makes quality signals comparable ACROSS sources (a length
    //    that is typical for src3 may be an outlier for src7). Mean and
    //    sample variance come from exact integer moment sums (n, Σx, Σx²
    //    in longs — the q71 moment posture: no float order-dependence at
    //    any scale), then a fixed tree of correctly-rounded IEEE ops:
    //    var = (n·Σx² − (Σx)²)/(n·(n−1)), std = sqrt, z = (x − mean)/std.
    //    Scale shape: one narrow token-count pass, a source-count-bounded
    //    moment agg, stats broadcast back onto a map stage — the same
    //    zero-corpus-shuffle shape as q69's mixing rates.
    QueryDef(
      "q95_zscore",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").cast("long").as("x"))
        val st = d.groupBy($"source")
          .agg(count(lit(1)).as("n"), sum($"x").as("s1"),
            sum($"x" * $"x").as("s2"))
        val stats = st.select($"source", $"n",
          ($"s1".cast("double") / $"n".cast("double")).as("mean"),
          when($"n" > 1,
            sqrt((($"n" * $"s2" - $"s1" * $"s1").cast("double")) /
              (($"n" * ($"n" - 1)).cast("double"))))
            .otherwise(0.0).as("std"))
        d.join(broadcast(stats), "source")
          .select($"doc_id", $"source", $"x".as("n_tokens"),
            round($"mean", 9).as("src_mean"),
            round($"std", 9).as("src_std"),
            round(when($"std" > 0.0,
              ($"x".cast("double") - $"mean") / $"std").otherwise(0.0), 9)
              .as("z"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) END AS x
        |  FROM documents),
        |st AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
        |  FROM d GROUP BY 1),
        |stats AS (
        |  SELECT source, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CASE WHEN n > 1
        |      THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) /
        |                CAST(n * (n - 1) AS DOUBLE))
        |      ELSE 0.0 END AS std
        |  FROM st)
        |SELECT d.doc_id, d.source, d.x AS n_tokens,
        |  ROUND(mean, 9) AS src_mean, ROUND(std, 9) AS src_std,
        |  ROUND(CASE WHEN std > 0 THEN (CAST(d.x AS DOUBLE) - mean) / std
        |    ELSE 0.0 END, 9) AS z
        |FROM d JOIN stats USING (source)""".stripMargin)),

    // ── Dataset card: the ONE-ROW corpus profile a dataset release ships
    //    with — volume (docs/tokens/sources/langs), integrity (exact-dup
    //    rate off the q33 fingerprint), and quality (corpus-mean q31
    //    score, floor-fixed-point). Everything folds into one narrow
    //    projection + one global agg (two-phase exact distincts for the
    //    fingerprint/source/lang counts) — at 100 TB the distincts are
    //    the only corpus-keyed shuffles and each carries pre-deduped
    //    partials. The at-scale swap for the distinct counts is q68's
    //    approx_count_distinct, same posture as every profiling op here.
    QueryDef(
      "q121_dataset_card",
      (s, dir) => {
        import s.implicits._
        val q = TextAnalysis.qualityColumns($"text").toMap.apply("quality_score")
        val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source", $"lang",
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
            q.as("quality"),
            TextAnalysis.hash60(norm).as("fp"))
        d.agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          countDistinct($"lang").as("n_langs"),
          sum($"n_tokens").as("n_tokens"),
          countDistinct($"fp").as("n_distinct_fp"))
          .crossJoin(broadcast(d.agg(QueryDef.tavg($"quality").as("mean_quality"))))
          .select($"n_docs", $"n_sources", $"n_langs", $"n_tokens",
            $"n_distinct_fp",
            round(lit(1.0) - $"n_distinct_fp".cast("double") /
              $"n_docs".cast("double"), 9).as("exact_dup_rate"),
            round(($"n_tokens".cast("double") / $"n_docs".cast("double")), 9)
              .as("mean_tokens_per_doc"),
            round($"mean_quality", 9).as("mean_quality"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, source, lang, text,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, lang,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, x -> list_contains($stopwordListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2 AS quality
        |  FROM t)
        |SELECT COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT fp) AS n_distinct_fp,
        |  ROUND(CAST(1.0 AS DOUBLE) - CAST(COUNT(DISTINCT fp) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS exact_dup_rate,
        |  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS mean_tokens_per_doc,
        |  ROUND(${QueryDef.tavgSql("quality")}, 9) AS mean_quality
        |FROM r""".stripMargin)),

    // ── Split-balance audit: per (source, split) token/quality means —
    //    the check that the q63 hash split is UNBIASED per stratum (a
    //    split whose test slice skews long or low-quality invalidates
    //    eval comparisons even with zero leakage; this is q114's
    //    statistical sibling). Split and quality are both per-row
    //    properties, so the whole audit is one narrow projection + one
    //    (source, split)-keyed agg with exact integer/fixed-point means —
    //    60 output rows at any corpus size.
    QueryDef(
      "q124_split_balance",
      (s, dir) => {
        import s.implicits._
        val q = TextAnalysis.qualityColumns($"text").toMap.apply("quality_score")
        val bucket = pmod(TextAnalysis.hash60(
          concat(lit("split:"), $"doc_id".cast("string"))), lit(100)).cast("int")
        Tables.documents(s, dir)
          .select($"source",
            when(bucket < 80, "train")
              .when(bucket < 90, "validation").otherwise("test").as("split"),
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
            q.as("quality"))
          .groupBy($"source", $"split")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("n_tokens"),
            // r9, not round(_, 9): the per-stratum means can land on a
            // .5×1e-9 boundary (seen on the r15 scale fixture), where
            // round's Spark/DuckDB tie semantics diverge
            QueryDef.r9(sum($"n_tokens").cast("double") /
              count(lit(1)).cast("double")).as("mean_tokens"),
            QueryDef.r9(QueryDef.tavg($"quality")).as("mean_quality"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, source, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks,
        |    CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |r AS (
        |  SELECT source, split, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, x -> list_contains($stopwordListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2 AS quality
        |  FROM t)
        |SELECT source, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  ${QueryDef.r9Sql("CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")}
        |    AS mean_tokens,
        |  ${QueryDef.r9Sql(QueryDef.tavgSql("quality"))} AS mean_quality
        |FROM r GROUP BY 1, 2""".stripMargin)),

    // ── Effective dataset size: per-source raw vs post-dedup token
    //    counts — the number a mixing/budget step actually consumes (q69/
    //    q118 budget against RAW tokens unless told otherwise; a source
    //    that is 30% duplicates contributes 30% fewer effective tokens).
    //    Keeper = global min-id per content fingerprint (q34's rule), so
    //    cross-source duplicates debit the copying source, not the
    //    original. One narrow projection + one fingerprint-keyed window +
    //    one 20-row agg; retention ratios are single pinned divisions.
    QueryDef(
      "q132_effective_tokens",
      (s, dir) => {
        import s.implicits._
        val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
            TextAnalysis.hash60(norm).as("fp"))
        val byFp = Window.partitionBy($"fp")
        d.withColumn("keeper", min($"doc_id").over(byFp) === $"doc_id")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("n_tokens_raw"),
            sum(when($"keeper", 1L).otherwise(0L)).as("n_docs_kept"),
            sum(when($"keeper", $"n_tokens").otherwise(0L)).as("n_tokens_kept"))
          .select($"source", $"n_docs", $"n_tokens_raw",
            $"n_docs_kept", $"n_tokens_kept",
            round($"n_tokens_kept".cast("double") /
              $"n_tokens_raw".cast("double"), 9).as("token_retention"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) END AS n_tokens,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, n_tokens,
        |    MIN(doc_id) OVER (PARTITION BY fp) = doc_id AS keeper
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_raw,
        |  CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |  CAST(SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS n_tokens_kept,
        |  ROUND(CAST(SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n_tokens) AS DOUBLE), 9) AS token_retention
        |FROM k GROUP BY source""".stripMargin)),

    // ── Curation waterfall: how many documents survive each pipeline
    //    stage (raw → quality ≥ 0.5 → identified language → dedup keeper),
    //    with tokens accounted at every step — the funnel report a
    //    curation run publishes so a sudden retention drop is attributable
    //    to a STAGE, not discovered in the final count. Stages share q62's
    //    one-projection signals (adding a stage costs zero passes); the
    //    keeper window is the only shuffle; output is one row.
    QueryDef(
      "q135_curation_funnel",
      (s, dir) => {
        import s.implicits._
        val qc = TextAnalysis.qualityColumns($"text").toMap
        val lc = TextAnalysis.langIdColumns($"text").toMap
        val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
        val d = Tables.documents(s, dir).select($"doc_id",
          qc("n_tokens").cast("long").as("n_tokens"),
          qc("quality_score").as("q"),
          lc("pred_lang").as("pl"),
          TextAnalysis.hash60(norm).as("fp"))
        val byFp = Window.partitionBy($"fp")
        val flagged = d
          .withColumn("pass_q", $"q" >= 0.5)
          .withColumn("pass_l", $"pass_q" && $"pl" =!= "und")
          .withColumn("pass_k",
            $"pass_l" && min(when($"pass_l", $"doc_id")).over(byFp) === $"doc_id")
        flagged.agg(
          count(lit(1)).as("n_raw"),
          sum(when($"pass_q", 1L).otherwise(0L)).as("n_quality"),
          sum(when($"pass_l", 1L).otherwise(0L)).as("n_lang"),
          sum(when($"pass_k", 1L).otherwise(0L)).as("n_kept"),
          sum($"n_tokens").as("tok_raw"),
          sum(when($"pass_k", $"n_tokens").otherwise(0L)).as("tok_kept"))
          .select($"n_raw", $"n_quality", $"n_lang", $"n_kept",
            $"tok_raw", $"tok_kept",
            round($"n_kept".cast("double") / $"n_raw".cast("double"), 9)
              .as("doc_retention"),
            round($"tok_kept".cast("double") / $"tok_raw".cast("double"), 9)
              .as("token_retention"))
      },
      Some {
        val markerSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / n_tok ELSE 0.0 END AS score_$lang"
        }.mkString(",\n    ")
        // identical pick logic to the verified q62 oracle
        val pick =
          """CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0.0 THEN 'und'
            |         WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
            |         WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
            |         WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
            |         ELSE 'es' END""".stripMargin
        s"""WITH t AS (
        |  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, fp, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(toks) AS DOUBLE) AS n_tok, len, toks,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, z -> list_contains($stopwordListSql, z))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2 AS q
        |  FROM t),
        |l AS (
        |  SELECT doc_id, fp, n_tokens, q, $markerSql
        |  FROM r),
        |flags AS (
        |  SELECT doc_id, fp, n_tokens,
        |    q >= 0.5 AS pass_q,
        |    q >= 0.5 AND ($pick) <> 'und' AS pass_l
        |  FROM l),
        |keep AS (
        |  SELECT doc_id, n_tokens, pass_q, pass_l,
        |    pass_l AND MIN(CASE WHEN pass_l THEN doc_id END)
        |      OVER (PARTITION BY fp) = doc_id AS pass_k
        |  FROM flags)
        |SELECT COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN pass_l THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN pass_k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tok_raw,
        |  CAST(SUM(CASE WHEN pass_k THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tok_kept,
        |  ROUND(CAST(SUM(CASE WHEN pass_k THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS doc_retention,
        |  ROUND(CAST(SUM(CASE WHEN pass_k THEN n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n_tokens) AS DOUBLE), 9) AS token_retention
        |FROM keep""".stripMargin
      }),

    // ── THE capstone composition — the complete pretraining-data
    //    pipeline as ONE declarative plan: quality + language gates and
    //    the dedup keeper (q62) → hash split (q63) → per-(split, source)
    //    sequence packing (q64) → split-level manifest. Catalyst sees the
    //    whole chain at once: one corpus scan computes every signal, the
    //    fingerprint window is the first shuffle, the packing window the
    //    second — adding any stage's signal costs zero extra passes, and
    //    the manifest is what a trainer's data loader is handed. This is
    //    the query a user of the whole library actually runs.
    QueryDef(
      "q143_full_pipeline",
      (s, dir) => {
        import s.implicits._
        val qc = TextAnalysis.qualityColumns($"text").toMap
        val lc = TextAnalysis.langIdColumns($"text").toMap
        val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
        val bucket = pmod(TextAnalysis.hash60(
          concat(lit("split:"), $"doc_id".cast("string"))), lit(100)).cast("int")
        val enriched = Tables.documents(s, dir).select($"doc_id", $"source",
          qc("n_tokens").cast("long").as("n_tokens"),
          qc("quality_score").as("q"),
          lc("pred_lang").as("pl"),
          TextAnalysis.hash60(norm).as("fp"),
          when(bucket < 80, "train")
            .when(bucket < 90, "validation").otherwise("test").as("split"))
        val byFp = Window.partitionBy($"fp")
        val kept = enriched
          .withColumn("keeper", min($"doc_id").over(byFp))
          .where($"doc_id" === $"keeper" && $"q" >= 0.5 && $"pl" =!= "und")
        val packW = Window.partitionBy($"split", $"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        kept
          .withColumn("cum_before",
            coalesce(sum($"n_tokens").over(packW), lit(0L)))
          .withColumn("seq_id", floor($"cum_before" / 512).cast("int"))
          .groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("n_tokens"),
            countDistinct($"source", $"seq_id").as("n_seqs"))
      },
      Some {
        val pick =
          """CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0.0 THEN 'und'
            |         WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
            |         WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
            |         WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
            |         ELSE 'es' END""".stripMargin
        val markerSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / n_tok ELSE 0.0 END AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH t AS (
        |  SELECT doc_id, source, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp,
        |    CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, fp, split,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(toks) AS DOUBLE) AS n_tok, len, toks,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, z -> list_contains($stopwordListSql, z))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2 AS q
        |  FROM t),
        |l AS (SELECT doc_id, source, fp, split, n_tokens, q, $markerSql FROM r),
        |kept AS (
        |  SELECT doc_id, source, split, n_tokens FROM (
        |    SELECT doc_id, source, split, n_tokens, q,
        |      MIN(doc_id) OVER (PARTITION BY fp) AS keeper,
        |      ($pick) AS pred_lang
        |    FROM l)
        |  WHERE doc_id = keeper AND q >= 0.5 AND pred_lang <> 'und'),
        |packed AS (
        |  SELECT split, source, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 512 AS INT) AS seq_id
        |  FROM kept)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT (source, seq_id)) AS n_seqs
        |FROM packed GROUP BY split""".stripMargin
      }),

    // ── Signal correlation — are two curation signals measuring the same
    //    thing? Pearson r between token count and the q31 quality score,
    //    per source, from EXACT moments: x stays integer, y is the score
    //    in floor-1e9 fixed point, and all six sums (n, Σx, Σy, Σxy, Σx²,
    //    Σy²) accumulate exactly (decimal for the wide squares) in one
    //    partial-agg'd pass (q71's moment trick). Each moment then takes
    //    ONE correctly-rounded double conversion and r is a fixed IEEE
    //    tree — bit-stable with zero float accumulation anywhere. A
    //    source where r ≈ 1 means quality is just length in disguise —
    //    drop one signal or reweight q113's blend.
    QueryDef(
      "q134_signal_corr",
      (s, dir) => {
        import s.implicits._
        val qc = TextAnalysis.qualityColumns($"text").toMap
        val d = Tables.documents(s, dir)
          .select($"source",
            qc("n_tokens").cast("long").as("x"),
            floor(qc("quality_score") * lit(1e9)).cast("long").as("y"))
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val st = d.groupBy($"source")
          .agg(count(lit(1)).as("n"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum(($"x" * $"y").cast(dec)).as("sxy"),
            sum(($"x" * $"x").cast(dec)).as("sxx"),
            sum(($"y".cast(dec19) * $"y".cast(dec19)).cast(dec)).as("syy"))
        val n = $"n".cast("double")
        val cov = n * $"sxy".cast("double") -
          $"sx".cast("double") * $"sy".cast("double")
        val vx = n * $"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double")
        val vy = n * $"syy".cast("double") -
          $"sy".cast("double") * $"sy".cast("double")
        st.select($"source", $"n",
          round(when(vx > 0.0 && vy > 0.0,
            cov / (sqrt(vx) * sqrt(vy))).otherwise(0.0), 9).as("pearson_r"))
      },
      Some(s"""WITH t AS (
        |  SELECT source, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |d AS (
        |  SELECT source, CAST(len(toks) AS BIGINT) AS x,
        |    CAST(floor((least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, z -> list_contains($stopwordListSql, z))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |          ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0
        |          THEN (len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)) / len
        |          ELSE 0.0 END) * 10.0, 0.0) * 0.2) * 1e9) AS BIGINT) AS y
        |  FROM t),
        |st AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
        |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
        |  FROM d GROUP BY 1)
        |SELECT source, n,
        |  ROUND(CASE WHEN
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |      AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    ELSE 0.0 END, 9) AS pearson_r
        |FROM st""".stripMargin)),

    // ── Inverted-index build: top-5 posting entries per qualifying term
    //    (df ≥ 5 prunes hapax noise), scored by the q73 linear-idf tf-idf.
    //    This is the SERVING-INDEX export — q73/q83 score ad hoc, this
    //    materializes the artifact a retrieval service loads. Shape: the
    //    (doc, term) count is the one corpus shuffle (q73's rule: df
    //    re-aggregates those counts, never a second pass); the per-term
    //    top-5 is a WindowGroupLimit heap map-side, so the shuffle carries
    //    ≤5 rows per term. Integer-derived scoring (1e-9-floored) keeps
    //    the ranking bit-stable across engines.
    QueryDef(
      "q125_inverted_index",
      (s, dir) => {
        import s.implicits._
        // r16 optimization (guide §2.4): df = COUNT of tf rows per term,
        // so it rides a term-keyed window over the SAME pass instead of a
        // separate agg + self-join — the unshared tf subtree (explode +
        // rollup) was evaluated twice and the join added a third
        // Exchange. Now: one rollup exchange, one term-keyed window
        // exchange, tf computed once. df values identical by definition.
        val tf = Tables.documents(s, dir)
          .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
          .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
        val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val byTerm = Window.partitionBy($"term")
          .orderBy($"score_fp".desc, $"doc_id".asc)
        tf
          .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
          .where($"df" >= 5L)
          .crossJoin(broadcast(nDocs))
          .withColumn("score_fp",
            floor(($"tf".cast("double") *
              ($"n_docs".cast("double") / $"df".cast("double"))) * lit(1e9))
              .cast("long"))
          .withColumn("rank", row_number().over(byTerm).cast("int"))
          .where($"rank" <= 5)
          .select($"term", $"doc_id", $"tf", $"df", $"rank",
            round($"score_fp".cast("double") / lit(1e9), 9).as("tfidf"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |           ELSE string_split_regex(lower(trim(text)), '\s+') END) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) >= 5),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.term, tf.doc_id, tf.tf, df.df,
        |    CAST(floor((CAST(tf.tf AS DOUBLE) *
        |      (CAST(nd.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))) * 1e9) AS BIGINT)
        |      AS score_fp
        |  FROM tf JOIN df USING (term) CROSS JOIN nd)
        |SELECT term, doc_id, tf, df, CAST(rn AS INT) AS rank,
        |  ROUND(CAST(score_fp AS DOUBLE) / 1e9, 9) AS tfidf
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
        |    ORDER BY score_fp DESC, doc_id ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin)),

    // ── Composite curation score by rank normalization: the q31 heuristic
    //    quality score and the q66 repetition signal live on incomparable
    //    scales, so each is PERCENT_RANK-normalized within its source
    //    before blending (rank normalization is the standard way to
    //    ensemble heterogeneous quality signals without tuning per-signal
    //    scales — and ranks transfer across engines exactly where raw
    //    score arithmetic might not). Ordering keys carry doc_id so no
    //    ties exist — percent_rank is then pure integer arithmetic over
    //    bit-identical (already gate-verified) doubles. Both windows share
    //    one source exchange; keep = blend ≥ 0.5 drops the worse half of
    //    every source independently (no global sort anywhere).
    QueryDef(
      "q113_quality_blend",
      (s, dir) => {
        import s.implicits._
        val qcol = TextAnalysis.qualityColumns($"text")
          .toMap.apply("quality_score")
        val base = Tables.documents(s, dir)
          .select($"doc_id", $"source", qcol.as("q"))
        val w = TextAnalysis.tokens($"text")
        val rep = Tables.documents(s, dir)
          .select($"doc_id", w.as("w"))
          .where(size($"w") >= 2)
          .select($"doc_id",
            explode(transform(sequence(lit(1), size($"w") - 1), i =>
              concat_ws(" ", element_at($"w", i), element_at($"w", i + 1))))
              .as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg((max($"c").cast("double") / sum($"c").cast("double")).as("rep"))
        val j = base.join(rep, Seq("doc_id"), "left")
          .na.fill(0.0, Seq("rep"))
        val wq = Window.partitionBy($"source").orderBy($"q".asc, $"doc_id".asc)
        val wr = Window.partitionBy($"source").orderBy($"rep".desc, $"doc_id".asc)
        j.select($"doc_id", $"source",
            round($"q", 9).as("quality_score"),
            round($"rep", 9).as("repetition"),
            percent_rank().over(wq).as("pr_q"),
            percent_rank().over(wr).as("pr_r"))
          .select($"doc_id", $"source", $"quality_score", $"repetition",
            round(($"pr_q" + $"pr_r") * 0.5, 9).as("blend"))
          .withColumn("keep", $"blend" >= 0.5)
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, source, text, CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, len,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    len - CAST(length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(toks, t -> list_contains($stopwordListSql, t))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source,
        |    least(len / 500.0, 1.0) * 0.4
        |      + least((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 5.0, 1.0) * 0.4
        |      + greatest(1.0 - (CASE WHEN len > 0 THEN n_punct / len ELSE 0.0 END) * 10.0, 0.0) * 0.2
        |      AS q
        |  FROM r),
        |bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |  FROM (SELECT doc_id, toks AS w,
        |      unnest(generate_series(1, len(toks) - 1)) AS i
        |    FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |rep AS (SELECT doc_id,
        |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep
        |  FROM bc GROUP BY doc_id),
        |j AS (
        |  SELECT q.doc_id, q.source, q.q, COALESCE(rep.rep, 0.0) AS rep
        |  FROM q LEFT JOIN rep USING (doc_id)),
        |pr AS (
        |  SELECT doc_id, source,
        |    ROUND(q, 9) AS quality_score, ROUND(rep, 9) AS repetition,
        |    PERCENT_RANK() OVER (PARTITION BY source ORDER BY q ASC, doc_id ASC) AS pr_q,
        |    PERCENT_RANK() OVER (PARTITION BY source ORDER BY rep DESC, doc_id ASC) AS pr_r
        |  FROM j)
        |SELECT doc_id, source, quality_score, repetition,
        |  ROUND((pr_q + pr_r) * 0.5, 9) AS blend,
        |  ROUND((pr_q + pr_r) * 0.5, 9) >= CAST(0.5 AS DOUBLE) AS keep
        |FROM pr""".stripMargin)),

    // ── Sliding-window chunking with overlap — the RAG-ingestion emission
    //    q51 only samples: every document becomes stride-64 windows of up
    //    to 128 tokens (64-token halo so no boundary context is lost),
    //    each chunk carrying its token interval and 60-bit content
    //    fingerprint (the retrieval index key). Scale shape: one narrow
    //    pass, a bounded explode (≤ 2× token count across chunks), zero
    //    shuffles — chunk rows inherit the document's partition.
    QueryDef(
      "q150_chunk_overlap",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select($"doc_id", TextAnalysis.tokens($"text").as("w"))
          .where(size($"w") >= 1)
        toks
          .select($"doc_id", $"w",
            explode(sequence(lit(1), size($"w"), lit(64))).as("start_tok"))
          .select($"doc_id",
            (($"start_tok" - 1) / 64).cast("int").as("chunk_idx"),
            $"start_tok",
            least(lit(128), size($"w") - $"start_tok" + 1).as("n_chunk_tokens"),
            TextAnalysis.hash60Fast(s,
              concat_ws(" ", slice($"w", $"start_tok", lit(128))))
              .as("chunk_h"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w), 64)) AS start_tok
        |  FROM t WHERE len(w) >= 1)
        |SELECT doc_id,
        |  CAST((start_tok - 1) // 64 AS INT) AS chunk_idx,
        |  CAST(start_tok AS INT) AS start_tok,
        |  CAST(least(128, len(w) - start_tok + 1) AS INT) AS n_chunk_tokens,
        |  ('0x' || substr(md5(array_to_string(w[start_tok:start_tok+127], ' ')), 1, 15))::BIGINT AS chunk_h
        |FROM c""".stripMargin)),

    // ── CCNet-style LANGUAGE-MODEL BANDS — Wenzek et al.'s head/middle/
    //    tail partition, per source: docs rank by the q91 trigram-LM score
    //    within their source and NTILE(3) cuts the bands; the keep flag
    //    drops the tail band (the actual CCNet curation decision, where
    //    q91 only thresholded against the corpus mean). Scale shape: the
    //    charset³-bounded LM broadcasts; banding is one keyed window per
    //    source partition over an already-narrow scored frame.
    QueryDef(
      "q152_ccnet_bands",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select($"doc_id", $"source")
        val tg = trigramsCached(s, dir).select($"doc_id", $"trigram")
        val counts = tg.groupBy($"trigram").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum($"cnt").as("t_total"))
        val per = tg.join(broadcast(counts), "trigram")
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("cnt_sum"), count(lit(1)).as("n_tg"))
        val scored = per.crossJoin(broadcast(tot))
          .select($"doc_id",
            ($"cnt_sum".cast("double") /
              ($"n_tg".cast("double") * $"t_total".cast("double")))
              .as("lm_score"))
        val byScore = Window.partitionBy($"source")
          .orderBy($"lm_score".desc, $"doc_id".asc)
        docs.join(scored, Seq("doc_id"), "left")
          .na.fill(0.0, Seq("lm_score"))
          .withColumn("band", ntile(3).over(byScore))
          .select($"doc_id", $"source", $"lm_score", $"band",
            when($"band" === 1, "head").when($"band" === 2, "middle")
              .otherwise("tail").as("band_label"),
            ($"band" < 3).as("keep"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, substr(norm, i, 3) AS trigram
        |  FROM (SELECT doc_id, norm,
        |      unnest(generate_series(1, length(norm) - 2)) AS i
        |    FROM d WHERE length(norm) >= 3)),
        |cnts AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM cnts),
        |per AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS cnt_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n_tg
        |  FROM tg JOIN cnts USING (trigram) GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(cnt_sum AS DOUBLE) /
        |      (CAST(n_tg AS DOUBLE) * CAST(t_total AS DOUBLE)) AS lm_score
        |  FROM per CROSS JOIN tot),
        |b AS (
        |  SELECT d.doc_id, d.source, COALESCE(s.lm_score, 0.0) AS lm_score,
        |    CAST(NTILE(3) OVER (PARTITION BY d.source
        |      ORDER BY COALESCE(s.lm_score, 0.0) DESC, d.doc_id ASC) AS INT) AS band
        |  FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id)
        |SELECT doc_id, source, lm_score, band,
        |  CASE WHEN band = 1 THEN 'head' WHEN band = 2 THEN 'middle'
        |       ELSE 'tail' END AS band_label,
        |  band < 3 AS keep
        |FROM b""".stripMargin)),

    // ── Curriculum schedule — quality-staged epoch planning over q152's
    //    bands: epoch 1 trains on the head band only, epoch 2 adds the
    //    middle, epoch 3 sees everything (the easy→hard pacing curriculum
    //    learning prescribes). A doc in band b participates in epochs
    //    b..3, so the manifest is one bounded explode over the banded
    //    frame; the output prices each (epoch, band) cell in docs and
    //    tokens. Scale shape: banding is q152's keyed window; the epoch
    //    explode is ≤ 3× and feeds a 9-row rollup.
    QueryDef(
      "q154_curriculum",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
        val tg = trigramsCached(s, dir).select($"doc_id", $"trigram")
        val counts = tg.groupBy($"trigram").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum($"cnt").as("t_total"))
        val per = tg.join(broadcast(counts), "trigram")
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("cnt_sum"), count(lit(1)).as("n_tg"))
        val scored = per.crossJoin(broadcast(tot))
          .select($"doc_id",
            ($"cnt_sum".cast("double") /
              ($"n_tg".cast("double") * $"t_total".cast("double")))
              .as("lm_score"))
        val byScore = Window.partitionBy($"source")
          .orderBy($"lm_score".desc, $"doc_id".asc)
        docs.join(scored, Seq("doc_id"), "left")
          .na.fill(0.0, Seq("lm_score"))
          .withColumn("band", ntile(3).over(byScore))
          .select($"band", $"n_tokens",
            explode(sequence($"band", lit(3))).as("epoch"))
          .groupBy($"epoch", $"band")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |      AS n_tokens,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, substr(norm, i, 3) AS trigram
        |  FROM (SELECT doc_id, norm,
        |      unnest(generate_series(1, length(norm) - 2)) AS i
        |    FROM d WHERE length(norm) >= 3)),
        |cnts AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM cnts),
        |per AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS cnt_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n_tg
        |  FROM tg JOIN cnts USING (trigram) GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(cnt_sum AS DOUBLE) /
        |      (CAST(n_tg AS DOUBLE) * CAST(t_total AS DOUBLE)) AS lm_score
        |  FROM per CROSS JOIN tot),
        |b AS (
        |  SELECT d.doc_id, d.n_tokens,
        |    CAST(NTILE(3) OVER (PARTITION BY d.source
        |      ORDER BY COALESCE(s.lm_score, 0.0) DESC, d.doc_id ASC) AS INT) AS band
        |  FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id),
        |x AS (
        |  SELECT band, n_tokens,
        |    CAST(unnest(generate_series(band, 3)) AS INT) AS epoch
        |  FROM b)
        |SELECT epoch, band, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM x GROUP BY 1, 2""".stripMargin)),

    // ── Passage-keeper selection — the DECISION table q70's measurement
    //    implies: every duplicated 8-word passage hash (q70's
    //    non-overlapping chunk granularity, where the fixture corpus
    //    genuinely duplicates) reports its instance/document spread and
    //    the deterministic keeper (min (doc_id, chunk_idx) — the one copy
    //    a retrieval index stores, every other instance drops). The
    //    sub-document analog of q34's exact-dedup keeper. Scale shape:
    //    one narrow chunk pass, one keyed agg on the 60-bit hash —
    //    map-side partials, no pairwise work.
    QueryDef(
      "q157_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val chunks = Tables.documents(s, dir)
          .select($"doc_id", TextAnalysis.tokens($"text").as("w"))
          .where(size($"w") >= 8)
          .select($"doc_id", $"w",
            explode(sequence(lit(1), size($"w") - 7, lit(8))).as("start_tok"))
          .select($"doc_id",
            (($"start_tok" - 1) / 8).cast("int").as("chunk_idx"),
            TextAnalysis.hash60Fast(s,
              concat_ws(" ", slice($"w", $"start_tok", lit(8))))
              .as("chunk_h"))
        chunks.groupBy($"chunk_h")
          .agg(count(lit(1)).as("n_instances"),
            countDistinct($"doc_id").as("n_docs"),
            min(struct($"doc_id", $"chunk_idx")).as("k"))
          .where($"n_instances" > 1L)
          .select($"chunk_h", $"n_instances", $"n_docs",
            $"k.doc_id".as("keep_doc"), $"k.chunk_idx".as("keep_chunk"))
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    CAST((start_tok - 1) // 8 AS INT) AS chunk_idx,
        |    ('0x' || substr(md5(array_to_string(w[start_tok:start_tok+7], ' ')), 1, 15))::BIGINT AS chunk_h
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7, 8)) AS start_tok
        |        FROM t WHERE len(w) >= 8)),
        |dup AS (
        |  SELECT chunk_h, COUNT(*) AS n_instances,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM ch GROUP BY 1 HAVING COUNT(*) > 1),
        |k AS (
        |  SELECT chunk_h, doc_id AS keep_doc, chunk_idx AS keep_chunk
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_h
        |      ORDER BY doc_id, chunk_idx) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT d.chunk_h, d.n_instances, d.n_docs, k.keep_doc, k.keep_chunk
        |FROM dup d JOIN k USING (chunk_h)""".stripMargin)),

    // ── HyperLogLog replayed EXACTLY in both engines — the sketch q68
    //    gates behaviorally (`approx_count_distinct` within a pinned
    //    window) rebuilt here from first principles so every register is
    //    hash-compared: bucket = top 6 bits of the 60-bit md5 token hash
    //    (64 registers), ρ = position of the first 1-bit in the remaining
    //    54 (via integer bit-length, no float log), register = MAX(ρ) —
    //    max is commutative/associative, so partial aggregation and
    //    shuffle order can't move it, the same order-independence argument
    //    as q218's xor fold. The raw estimate αm²/Σ2^-ρ uses ONE IEEE
    //    division: Σ2^(55-ρ) is an exact BIGINT (2^-ρ scaled by 2^55) and
    //    α·m²·2^55 is the same driver-computed double literal in both
    //    plans. At 100 TB the register table is the mergeable per-shard
    //    state: 64 longs per (source, shard) partial, one tiny final fold.
    QueryDef(
      "q225_hll_replay",
      (s, dir) => {
        import s.implicits._
        val tok = hllTokens(s, dir)
        val reg = hllRegisters(s, tok)
        val spine = tok.select($"source").distinct()
          .select($"source", explode(sequence(lit(0L), lit(63L))).as("bucket"))
        val z = spine.join(reg, Seq("source", "bucket"), "left")
          .select($"source", coalesce($"m", lit(0)).as("m"))
          .groupBy($"source")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("z"),
            sum(when($"m" === 0, 1L).otherwise(0L)).as("n_empty"))
        val exact = tok.groupBy($"source").agg(count(lit(1)).as("n_exact"))
        z.join(exact, "source")
          .select($"source", $"n_exact", $"n_empty",
            expr(s"CAST(floor($HllNumLit / CAST(z AS DOUBLE)) AS BIGINT)")
              .as("hll_est"))
          .withColumn("err_1e9",
            expr("abs(hll_est - n_exact) * 1000000000 div n_exact"))
      },
      Some(HllEstimateSql)),

    // ── The NATIVE form of q225 — [[graft.functions.HllRegAgg]], a
    //    TypedImperativeAggregate folding every token hash into a 64-BYTE
    //    buffer per (partition, source): map-side combine ships 64 bytes
    //    per group per task regardless of input size, where the
    //    relational form shuffles a (source, bucket, ρ) row per distinct
    //    token. The sketch side consumes RAW (non-distinct) tokens —
    //    MAX-fold is duplicate-insensitive, so the expensive distinct
    //    shuffle exists only for the exactness comparison column. Gated
    //    against the SAME DuckDB oracle as q225: the native buffer must
    //    replay the relational register computation bit for bit.
    QueryDef(
      "q235_hll_native",
      (s, dir) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val raw = Tables.documents(s, dir)
          .select($"source",
            explode(TextAnalysis.tokens($"text")).as("token"))
        val regs = raw
          .select($"source", TextAnalysis.hash60Fast(s, $"token").as("h"))
          .groupBy($"source")
          .agg(call_function("hll_registers", $"h").as("regs"))
        val z = regs
          .select($"source", posexplode($"regs").as(Seq("bucket", "m")))
          .groupBy($"source")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("z"),
            sum(when($"m" === 0, 1L).otherwise(0L)).as("n_empty"))
        val exact = raw.distinct().groupBy($"source")
          .agg(count(lit(1)).as("n_exact"))
        z.join(exact, "source")
          .select($"source", $"n_exact", $"n_empty",
            expr(s"CAST(floor($HllNumLit / CAST(z AS DOUBLE)) AS BIGINT)")
              .as("hll_est"))
          .withColumn("err_1e9",
            expr("abs(hll_est - n_exact) * 1000000000 div n_exact"))
      },
      Some(HllEstimateSql)),

    // ── HLL MERGE — the reason the sketch earns its place at 100 TB:
    //    per-source register tables (q225's state) fold into the corpus
    //    union by element-wise MAX, without touching the data again.
    //    This gate proves the mergeability contract end to end: union
    //    registers = MAX over per-source registers, the union estimate
    //    comes off the merged state via the same shared-literal division,
    //    and it is hash-compared against the EXACT corpus-wide distinct
    //    count computed independently. At scale: shards publish 64-long
    //    register rows; any subset of sources is unionable in
    //    O(64 × subsets) — the pre-aggregated OLAP-cube story for
    //    distinct counts, which plain counts can never give.
    QueryDef(
      "q227_hll_union",
      (s, dir) => {
        import s.implicits._
        val tok = hllTokens(s, dir)
        val u = hllRegisters(s, tok)
          .groupBy($"bucket").agg(max($"m").as("m"))
        val spine = s.range(0, 64).select($"id".as("bucket"))
        val z = spine.join(u, Seq("bucket"), "left")
          .select(coalesce($"m", lit(0)).as("m"))
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("z"),
            sum(when($"m" === 0, 1L).otherwise(0L)).as("n_empty"))
        val ex = tok.agg(
          countDistinct($"token").as("n_exact_union"),
          countDistinct($"source").as("n_sources"))
        z.crossJoin(ex)
          .select($"n_sources", $"n_exact_union", $"n_empty",
            expr(s"CAST(floor($HllNumLit / CAST(z AS DOUBLE)) AS BIGINT)")
              .as("hll_union_est"))
          .withColumn("err_1e9", expr(
            "abs(hll_union_est - n_exact_union) * 1000000000"
              + " div n_exact_union"))
      },
      Some(s"""WITH $HllRegSql,
        |u AS (SELECT bucket, MAX(m) AS m FROM reg GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(0, 63)) AS bucket),
        |z AS (
        |  SELECT
        |    CAST(SUM(1::BIGINT << (55 - COALESCE(u.m, 0))) AS BIGINT) AS z,
        |    CAST(SUM(CASE WHEN u.m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_empty
        |  FROM spine LEFT JOIN u ON spine.bucket = u.bucket),
        |ex AS (
        |  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact_union,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM t)
        |SELECT ex.n_sources, ex.n_exact_union, z.n_empty,
        |  CAST(floor($HllNumLit / CAST(z.z AS DOUBLE)) AS BIGINT)
        |    AS hll_union_est,
        |  abs(CAST(floor($HllNumLit / CAST(z.z AS DOUBLE)) AS BIGINT)
        |    - ex.n_exact_union) * 1000000000 // ex.n_exact_union AS err_1e9
        |FROM z, ex""".stripMargin)),

    // ── Calibration curve + ECE for the marker lang-ID score — the
    //    model-eval step after q32/q206: treat scaled marker density
    //    min(5·score_en, 1) as the predicted P(lang='en'), bucket into
    //    10 FIXED-WIDTH confidence bins (no global sort — the q101
    //    histogram posture), and compare mean confidence to observed
    //    rate per bin; ECE is the n-weighted |gap| sum. Fixed point
    //    throughout: confidences floor to 1e6 (the tavg argument —
    //    floor has no rounding-mode ties), per-bin rates are
    //    NONNEGATIVE integer divisions (the div-vs-floor trap only
    //    bites signed values), the |gap| is an integer, and ECE does
    //    integer cross-multiplied weighting. One scan, ≤10-row output.
    QueryDef(
      "q288_calibration",
      (s, dir) => {
        import s.implicits._
        val d = langScoresCached(s, dir)
          .select(least($"score_en" * 5.0, lit(1.0)).as("conf"),
            ($"lang" === "en").cast("long").as("pos"))
          .select(least(floor($"conf" * 10).cast("long"), lit(9L)).as("bin"),
            floor($"conf" * lit(1e6)).cast("long").as("conf_1e6"), $"pos")
        val bins = d.groupBy($"bin")
          .agg(count(lit(1)).as("n_b"), sum($"pos").as("pos_b"),
            sum($"conf_1e6").as("sum_conf_1e6"))
          .withColumn("obs_1e6", expr("pos_b * 1000000 div n_b"))
          .withColumn("mean_conf_1e6", expr("sum_conf_1e6 div n_b"))
          .withColumn("gap_1e6", abs($"obs_1e6" - $"mean_conf_1e6"))
        val tot = bins.agg(sum($"n_b").as("n"),
          sum($"gap_1e6" * $"n_b").as("wgap"))
        bins.crossJoin(broadcast(tot))
          .select($"bin", $"n_b", $"pos_b", $"obs_1e6", $"mean_conf_1e6",
            $"gap_1e6", expr("wgap div n").as("ece_1e6"))
      },
      Some {
        val lst = TextAnalysis.langMarkers.toMap.apply("en")
          .map(m => s"'$m'").mkString("[", ", ", "]")
        s"""WITH t AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END
        |      AS toks
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |    least(5.0 * (CASE WHEN len(toks) > 0
        |      THEN CAST(len(list_filter(toks, t -> list_contains($lst, t)))
        |        AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE 0.0 END), 1.0) AS conf
        |  FROM t),
        |d AS (
        |  SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin,
        |    CAST(floor(conf * 1e6) AS BIGINT) AS conf_1e6,
        |    CAST(lang = 'en' AS BIGINT) AS pos
        |  FROM c),
        |bins AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
        |    CAST(SUM(pos) AS BIGINT) AS pos_b,
        |    CAST(SUM(conf_1e6) AS BIGINT) AS sum_conf_1e6
        |  FROM d GROUP BY 1),
        |g AS (
        |  SELECT *, pos_b * 1000000 // n_b AS obs_1e6,
        |    sum_conf_1e6 // n_b AS mean_conf_1e6,
        |    abs(pos_b * 1000000 // n_b - sum_conf_1e6 // n_b) AS gap_1e6
        |  FROM bins),
        |tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n,
        |  CAST(SUM(gap_1e6 * n_b) AS BIGINT) AS wgap FROM g)
        |SELECT bin, n_b, pos_b, obs_1e6, mean_conf_1e6, gap_1e6,
        |  wgap // n AS ece_1e6
        |FROM g, tot""".stripMargin
      }),

    // ── Cohen's kappa between the marker lang-ID and the labels — the
    //    chance-corrected agreement number a confusion matrix alone
    //    doesn't give (a degenerate predictor can score high raw
    //    accuracy on a skewed label mix; kappa can't be fooled that
    //    way). po and pe come from exact integer marginals (diagonal
    //    count, Σ row_k·col_k via a class-keyed FULL OUTER marginal
    //    join — classes predicted-but-never-labeled and vice versa
    //    contribute zero exactly); kappa's numerator can be NEGATIVE,
    //    so the final step is the identical IEEE division, never an
    //    integer div (truncate-vs-floor diverges on signs). ≤6 classes
    //    ⇒ every frame after the one scan is dim-sized.
    QueryDef(
      "q289_cohens_kappa",
      (s, dir) => {
        import s.implicits._
        val d = langScoresCached(s, dir)
          .select($"lang", $"pred_lang".as("pred"))
        val m = d.agg(count(lit(1)).as("n"),
          sum(when($"lang" === $"pred", 1L).otherwise(0L)).as("diag"))
        val rows = d.groupBy($"lang".as("cls")).agg(count(lit(1)).as("r"))
        val cols = d.groupBy($"pred".as("cls")).agg(count(lit(1)).as("c"))
        val s2 = rows.join(cols, Seq("cls"), "full_outer")
          .na.fill(0L, Seq("r", "c"))
          .agg(sum($"r" * $"c").as("s_rowcol"))
        m.crossJoin(broadcast(s2))
          .select($"n", $"diag", $"s_rowcol",
            ($"diag".cast("double") / $"n".cast("double")).as("po"),
            ($"s_rowcol".cast("double") /
              ($"n" * $"n").cast("double")).as("pe"),
            (($"diag" * $"n" - $"s_rowcol").cast("double") /
              ($"n" * $"n" - $"s_rowcol").cast("double")).as("kappa"))
      },
      Some {
        val markerSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS DOUBLE) / n_tok ELSE 0.0 END AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH t AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\\s+') END
        |      AS toks
        |  FROM documents),
        |nn AS (SELECT lang, toks, CAST(len(toks) AS DOUBLE) AS n_tok
        |  FROM t),
        |sc AS (SELECT lang, $markerSql FROM nn),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN greatest(score_en, score_de, score_fr, score_es)
        |        <= 0.0 THEN 'und'
        |      WHEN score_en = greatest(score_en, score_de, score_fr,
        |        score_es) THEN 'en'
        |      WHEN score_de = greatest(score_en, score_de, score_fr,
        |        score_es) THEN 'de'
        |      WHEN score_fr = greatest(score_en, score_de, score_fr,
        |        score_es) THEN 'fr'
        |      ELSE 'es' END AS pred
        |  FROM sc),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT)
        |      AS diag
        |  FROM p),
        |rws AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS r
        |  FROM p GROUP BY 1),
        |cls AS (SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM p GROUP BY 1),
        |s2 AS (
        |  SELECT CAST(SUM(COALESCE(r, 0) * COALESCE(c, 0)) AS BIGINT)
        |    AS s_rowcol
        |  FROM rws FULL OUTER JOIN cls USING (cls))
        |SELECT m.n, m.diag, s2.s_rowcol,
        |  CAST(m.diag AS DOUBLE) / CAST(m.n AS DOUBLE) AS po,
        |  CAST(s2.s_rowcol AS DOUBLE) / CAST(m.n * m.n AS DOUBLE) AS pe,
        |  CAST(m.diag * m.n - s2.s_rowcol AS DOUBLE)
        |    / CAST(m.n * m.n - s2.s_rowcol AS DOUBLE) AS kappa
        |FROM m, s2""".stripMargin
      }),

    // ── Per-source lexical diversity, LOG-FREE: Shannon entropy is the
    //    textbook number but runtime logs are not correctly rounded
    //    (the q91/Fellegi-Sunter rule), so the diversity battery is built
    //    from exact integer moments instead — inverse-Simpson EFFECTIVE
    //    VOCABULARY N²/Σc² (the Rényi-2 "effective species count": how
    //    many equally-frequent types would produce this concentration —
    //    the repetition-collapse signal a corpus mixer watches), Gini-
    //    Simpson 1−Σp² (probability two random tokens differ), type-token
    //    ratio, and the top-type share. All in fixed point with the
    //    products in DECIMAL(38,0)/HUGEINT (q282's rule: N and Σc² are
    //    corpus-sized, so N²·1e6 overflows BIGINT long before 100 TB).
    //    Scale shape: one (source, token) count — map-side partial on the
    //    token stream — then a #types-row per-source rollup; top share
    //    rides the same pass via max(c).
    QueryDef(
      "q297_token_diversity",
      (s, dir) => {
        import s.implicits._
        val counts = Tables.documents(s, dir)
          .select($"source", explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
        counts.groupBy($"source")
          .agg(sum($"c").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum($"c".cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(38, 0)) * $"c").as("sum_c2"),
            max($"c").as("top_c"))
          .select($"source", $"n_tokens", $"n_types",
            expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens * 1000000" +
              " div sum_c2 AS BIGINT)").as("eff_vocab_1e6"),
            expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * n_tokens - sum_c2)" +
              " * 1000000000 div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)" +
              " AS BIGINT)").as("gini_simpson_1e9"),
            // linear 1e9 terms go through DECIMAL(38,0) too: n_types /
            // top_c are corpus-sized, so *1e9 overflows BIGINT past ~9.2e9
            expr("CAST(CAST(n_types AS DECIMAL(38,0)) * 1000000000" +
              " div n_tokens AS BIGINT)").as("ttr_1e9"),
            expr("CAST(CAST(top_c AS DECIMAL(38,0)) * 1000000000" +
              " div n_tokens AS BIGINT)").as("top_share_1e9"))
      },
      Some("""WITH t AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |tok AS (SELECT source, unnest(w) AS token FROM t),
        |cnt AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    SUM(CAST(c AS HUGEINT) * c) AS sum_c2,
        |    CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM cnt GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  CAST(CAST(n_tokens AS HUGEINT) * n_tokens * 1000000 // sum_c2
        |    AS BIGINT) AS eff_vocab_1e6,
        |  CAST((CAST(n_tokens AS HUGEINT) * n_tokens - sum_c2) * 1000000000
        |    // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
        |    AS gini_simpson_1e9,
        |  CAST(CAST(n_types AS HUGEINT) * 1000000000 // n_tokens
        |    AS BIGINT) AS ttr_1e9,
        |  CAST(CAST(top_c AS HUGEINT) * 1000000000 // n_tokens
        |    AS BIGINT) AS top_share_1e9
        |FROM agg""".stripMargin))
  )

  /** Distinct (source, token) pairs — the hashed-item stream both HLL
    * queries sketch over. */
  private def hllTokens(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", explode(TextAnalysis.tokens($"text")).as("token"))
      .distinct()
  }

  /** Per-(source, bucket) MAX-ρ HLL registers over [[hllTokens]] — the
    * shared [[TextAnalysis.hllRegisters]] kernel (same code path as the
    * streaming maintenance in EventStream.hllMaintain).
    */
  private def hllRegisters(s: org.apache.spark.sql.SparkSession,
      tok: org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    TextAnalysis.hllRegisters(s, tok, $"source", $"token")
  }

  /** Oracle CTE chain `t → h → r → rho → reg` producing the per-(source,
    * bucket) registers — the SQL twin of [[hllRegisters]], shared by q225
    * and q227. */
  private val HllRegSql: String = """t AS (
    |  SELECT DISTINCT source,
    |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
    |           ELSE string_split_regex(lower(trim(text)), '\s+') END)
    |      AS token
    |  FROM documents),
    |h AS (
    |  SELECT source,
    |    ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
    |  FROM t),
    |r AS (
    |  SELECT source, h // 18014398509481984 AS bucket,
    |    h % 18014398509481984 AS w
    |  FROM h),
    |rho AS (
    |  SELECT source, bucket,
    |    CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho
    |  FROM r),
    |reg AS (SELECT source, bucket, MAX(rho) AS m FROM rho GROUP BY 1, 2)""".stripMargin

  /** α₆₄·m²·2⁵⁵ for the q225/q227 HLL estimates (m = 64 registers,
    * α = 0.7213/(1 + 1.079/m)), rendered once via Double.toString so both
    * engines parse the identical shortest-representation literal and the
    * estimate is ONE shared IEEE division away from the integer Σ2^(55-ρ).
    */
  val HllNumLit: String = java.lang.Double.toString(
    0.7213 / (1.0 + 1.079 / 64.0) * 4096.0 * 36028797018963968.0)

  /** Full per-source estimate oracle (registers → spine → Z → estimate →
    * error), shared VERBATIM by q225 (relational registers) and q235
    * (native [[graft.functions.HllRegAgg]] registers): both engines' paths
    * must land on the identical register table for the hash compare to
    * pass. */
  private def HllEstimateSql: String = s"""WITH $HllRegSql,
    |spine AS (
    |  SELECT source, unnest(generate_series(0, 63)) AS bucket
    |  FROM (SELECT DISTINCT source FROM t)),
    |z AS (
    |  SELECT spine.source,
    |    CAST(SUM(1::BIGINT << (55 - COALESCE(reg.m, 0))) AS BIGINT) AS z,
    |    CAST(SUM(CASE WHEN reg.m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    |      AS n_empty
    |  FROM spine LEFT JOIN reg
    |    ON spine.source = reg.source AND spine.bucket = reg.bucket
    |  GROUP BY 1),
    |ex AS (SELECT source, COUNT(*) AS n_exact FROM t GROUP BY 1)
    |SELECT z.source, ex.n_exact, z.n_empty,
    |  CAST(floor($HllNumLit / CAST(z.z AS DOUBLE)) AS BIGINT) AS hll_est,
    |  abs(CAST(floor($HllNumLit / CAST(z.z AS DOUBLE)) AS BIGINT)
    |    - ex.n_exact) * 1000000000 // ex.n_exact AS err_1e9
    |FROM z JOIN ex ON z.source = ex.source""".stripMargin
}
