package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Evaluation-harness and lexical-mining operators: SymSpell-style
  * edit-distance-1 vocabulary pairing (the insert/delete complement of
  * q196's substitution bands), exact AUC of quality signals as rank
  * statistics, and closed-form OLS trend fitting — every decision integer
  * or exact-decimal until one final, identically-written IEEE division.
  *
  * Scale posture shared by all entries: candidate generation is always
  * key-blocked (deletion variants, score groups, (type, day) cells) so no
  * step is ever corpus × corpus, and the only windows run over post-agg
  * axes (distinct scores, day spines) that stay bounded as the corpus
  * grows.
  */
object EvalQueries {

  /** Morton bit-spread as portable SQL text: a 16-bit value's bits land
    * on the even positions of a 32-bit word via four or-mask steps using
    * only `|`, `&`, and power-of-two products — identical syntax and
    * exact integer semantics in Spark SQL and DuckDB. */
  private def spread16(c: String): String = {
    val s1 = s"(($c | ($c * 256)) & 16711935)"
    val s2 = s"(($s1 | ($s1 * 16)) & 252645135)"
    val s3 = s"(($s2 | ($s2 * 4)) & 858993459)"
    s"(($s3 | ($s3 * 2)) & 1431655765)"
  }

  def defs: Seq[QueryDef] = Seq(

    // ── SymSpell deletion-neighborhood blocking for record linkage —
    //    entity-name pairs at Levenshtein distance EXACTLY 1, candidates
    //    generated by the deletion trick: key(w) = {w} ∪ {w minus one
    //    char}, and any pair at distance 1 MUST share a key (b is a
    //    deletion of a, or a and b share a common deletion for a
    //    substitution) — exact recall with ≤ len+1 keys per name, so the
    //    blocked self-join is |names|·len keys, never names².
    //
    //    VERIFICATION IS STRUCTURAL, not a string distance: each key row
    //    carries its deletion index i (i = 0 for the undeleted token).
    //    A shared key proves distance exactly 1 iff
    //      i_a = i_b ≥ 1  (substitution: delete(a,i) = delete(b,i) means
    //                      a and b agree everywhere except position i), or
    //      min(i_a,i_b) = 0 (indel: delete(x,i) literally equals the
    //                      other token; equal lengths can't collide here).
    //    Distance-2 transposition pairs ("abcd"/"bacd") share a key only
    //    at DIFFERENT indices, so the i-filter kills them — the
    //    levenshtein verify this replaces cost ~60% of the query on 1M
    //    candidate rows; three integer compares cost nothing. Duplicate
    //    (key, i) rows from uniform character runs are KEPT (posexplode,
    //    no array_distinct): collapsing "xxb"→{("xb",1),("xb",2)} to its
    //    first index would miss the partner "xyb", whose only shared
    //    index is 2. Run over customer names, whose serial structure
    //    yields real single-digit near-collisions — the fuzzy-dedup
    //    blocking every entity-resolution pipeline needs before a
    //    quadratic matcher. (Document tokens come from a closed 30-word
    //    vocabulary with no edit-1 pairs, so names are the lexically
    //    interesting column of this corpus; q196 covers the token side.)
    //    The DuckDB oracle keeps the levenshtein formulation — the
    //    equivalence proof above is exactly what the hash gate checks.
    QueryDef(
      "q197_symspell",
      (s, dir) => {
        import s.implicits._
        val vocab = Tables.customer(s, dir)
          .select($"c_name".as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("c"))
          .withColumn("l", length($"tok"))
        // row-per-index explode + codegen'd substring concat: higher-order
        // array lambdas run interpreted, so building the deletion strings
        // AFTER the explode keeps the whole key generation inside
        // whole-stage codegen; NOT checkpointed — the A/B (PLANS.md)
        // showed recomputing this narrow codegen'd pass on both join
        // sides is as fast as materializing it, with two fewer jobs
        val keys = vocab
          .select($"tok", $"c", $"l", explode(sequence(lit(0), $"l")).as("i"))
          .select($"tok", $"c", $"i",
            when($"i" === 0, $"tok").otherwise(expr(
              "concat(substring(tok, 1, i - 1), substring(tok, i + 1, l))"))
              .as("k"))
        keys.select($"k", $"i".as("i_a"), $"tok".as("tok_a"),
            $"c".as("c_a"))
          .join(keys.select($"k", $"i".as("i_b"), $"tok".as("tok_b"),
            $"c".as("c_b")), Seq("k"))
          .where($"tok_a" < $"tok_b" &&
            ($"i_a" === $"i_b" || least($"i_a", $"i_b") === 0))
          .select($"tok_a", $"tok_b",
            when(length($"tok_a") === length($"tok_b"), lit("sub"))
              .otherwise(lit("indel")).as("edit_type"),
            ($"c_a" + $"c_b").as("c_total"))
          .distinct()
          .orderBy($"c_total".desc, $"tok_a".asc, $"tok_b".asc)
          .limit(20)
      },
      Some("""WITH v AS (
        |  SELECT tok, COUNT(*) AS c, length(tok) AS l
        |  FROM (SELECT c_name AS tok FROM customer)
        |  GROUP BY tok),
        |keys AS (
        |  SELECT tok, c, unnest(list_distinct(list_prepend(tok,
        |    list_transform(generate_series(1, l),
        |      i -> substr(tok, 1, CAST(i - 1 AS INTEGER))
        |        || substr(tok, CAST(i + 1 AS INTEGER)))))) AS k
        |  FROM v),
        |cand AS (
        |  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
        |    a.c AS c_a, b.c AS c_b
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.tok < b.tok)
        |SELECT tok_a, tok_b,
        |  CASE WHEN length(tok_a) = length(tok_b) THEN 'sub'
        |    ELSE 'indel' END AS edit_type,
        |  CAST(c_a + c_b AS BIGINT) AS c_total
        |FROM cand WHERE levenshtein(tok_a, tok_b) = 1
        |ORDER BY c_total DESC, tok_a ASC, tok_b ASC LIMIT 20"""
        .stripMargin)),

    // ── Exact AUC of cheap quality signals predicting lang='en' — the
    //    Mann-Whitney rank statistic computed WITHOUT floats: group by
    //    (signal, score), prefix-sum the negative counts over the
    //    distinct-score axis, and the tie-corrected numerator
    //    2·U = Σ pos_s · (2·neg_below + neg_tied) is pure BIGINT; one
    //    final double division yields AUC. The window runs over DISTINCT
    //    score values per signal (≪ corpus; at 100 TB the scores would
    //    first be binned, which only coarsens ties). The classifier-eval
    //    primitive every quality-filter ablation needs.
    QueryDef(
      "q198_auc_rank",
      (s, dir) => {
        import s.implicits._
        val scored = Tables.documents(s, dir)
          .select(($"lang" === "en").cast("long").as("pos"),
            explode(array(
              struct(lit("n_chars").as("signal"),
                $"n_chars".cast("long").as("score")),
              struct(lit("n_tokens").as("signal"),
                size(TextAnalysis.tokens($"text")).cast("long")
                  .as("score")),
              struct(lit("n_distinct_tokens").as("signal"),
                size(array_distinct(TextAnalysis.tokens($"text")))
                  .cast("long").as("score")))).as("sg"))
          .select($"pos", $"sg.signal", $"sg.score")
        val groups = scored.groupBy($"signal", $"score")
          .agg(sum($"pos").as("pn"),
            sum(lit(1L) - $"pos").as("nn"))
        val w = Window.partitionBy($"signal").orderBy($"score")
          .rowsBetween(Window.unboundedPreceding, -1)
        groups
          .withColumn("neg_below", coalesce(sum($"nn").over(w), lit(0L)))
          .groupBy($"signal")
          .agg(sum($"pn").as("n_pos"), sum($"nn").as("n_neg"),
            sum($"pn" * (lit(2L) * $"neg_below" + $"nn")).as("numer2"))
          .select($"signal", $"n_pos", $"n_neg",
            when($"n_pos" > 0 && $"n_neg" > 0,
              $"numer2".cast("double") /
                (lit(2L) * $"n_pos" * $"n_neg").cast("double"))
              .as("auc"))
      },
      Some("""WITH d AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CASE WHEN length(trim(text)) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks,
        |    n_chars
        |  FROM documents),
        |scored AS (
        |  SELECT pos, 'n_chars' AS signal, n_chars AS score FROM d
        |  UNION ALL
        |  SELECT pos, 'n_tokens', len(toks) FROM d
        |  UNION ALL
        |  SELECT pos, 'n_distinct_tokens', len(list_distinct(toks)) FROM d),
        |g AS (
        |  SELECT signal, score, SUM(pos) AS pn, SUM(1 - pos) AS nn
        |  FROM scored GROUP BY 1, 2),
        |cum AS (
        |  SELECT signal, pn, nn,
        |    COALESCE(SUM(nn) OVER (PARTITION BY signal ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below
        |  FROM g)
        |SELECT signal, CAST(SUM(pn) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(pn) > 0 AND SUM(nn) > 0 THEN
        |    CAST(SUM(pn * (2 * neg_below + nn)) AS DOUBLE) /
        |      CAST(2 * SUM(pn) * SUM(nn) AS DOUBLE)
        |    ELSE NULL END AS auc
        |FROM cum GROUP BY signal""".stripMargin)),

    // ── Closed-form OLS trend per event type — daily event counts
    //    regressed on the day index via the normal equations, every sum
    //    (Sx, Sy, Sxy, Sxx) a BIGINT over the (type, day) cells, slope
    //    and intercept each ONE double division of integer cross-terms:
    //    slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²). No iterative fitting,
    //    no float accumulation — the "is this signal growing" primitive
    //    behind drift alerts, computed map-side-combinable. The daily
    //    rollup is the only shuffle; the regression itself is per-type
    //    arithmetic on ≤ #days rows.
    QueryDef(
      "q200_ols_trend",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.events(s, dir)
          .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
          .agg(count(lit(1)).as("y"))
        val wt = Window.partitionBy($"event_type")
        val xy = daily
          .withColumn("x", datediff($"d", min($"d").over(wt)).cast("long"))
        xy.groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"), sum($"y").as("sum_y"),
            sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
            sum($"x" * $"y").as("sxy"))
          .select($"event_type", $"n_days", $"sum_y",
            (($"n_days" * $"sxy" - $"sx" * $"sum_y").cast("double") /
              ($"n_days" * $"sxx" - $"sx" * $"sx").cast("double"))
              .as("slope"),
            (($"sum_y" * $"sxx" - $"sx" * $"sxy").cast("double") /
              ($"n_days" * $"sxx" - $"sx" * $"sx").cast("double"))
              .as("intercept"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |xy AS (
        |  SELECT event_type, y,
        |    date_diff('day', MIN(d) OVER (PARTITION BY event_type), d)
        |      AS x
        |  FROM daily),
        |sums AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy, SUM(x) AS sx,
        |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |  FROM xy GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(sy AS BIGINT) AS sum_y,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  CAST(sy * sxx - sx * sxy AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS intercept
        |FROM sums""".stripMargin)),

    // ── Grid-blocked spatial neighbor join — all embedding pairs within
    //    planar radius 0.02 on dims (0,1), the fixed-grid counterpart of
    //    the LSH bucketing family: coordinates snap to 1e-6 FIXED POINT
    //    (one IEEE multiply + floor, identical in both engines, then
    //    pure integers), each point lands in ONE cell of side=radius,
    //    and the left side probes its 3×3 cell neighborhood via a
    //    9-way map-side Expand — every candidate pair shares a cell key,
    //    so the join is equi-keyed and the exact integer distance check
    //    (dx²+dy² ≤ R², BIGINT) never sees more than a few cells'
    //    points. Each unordered pair matches on exactly one offset, so
    //    no dedup pass is needed. The geo/spatial-join pattern (geohash
    //    blocking) every location-joined corpus needs at 100 TB.
    QueryDef(
      "q201_grid_join",
      (s, dir) => {
        import s.implicits._
        val G = 20000L       // cell side = radius, 1e-6 units
        val R2 = G * G       // radius² in fixed point
        val S = 10000000L    // shift to non-negative (|coord| < 10)
        val p = Tables.embeddings(s, dir)
          .select($"vec_id",
            floor(element_at($"embedding", 1).cast("double") * 1e6)
              .cast("long").as("xi"),
            floor(element_at($"embedding", 2).cast("double") * 1e6)
              .cast("long").as("yi"))
          .withColumn("cx", expr(s"(xi + $S) div $G"))
          .withColumn("cy", expr(s"(yi + $S) div $G"))
        val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 }
          yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
        val probe = p.select($"vec_id", $"xi", $"yi",
            explode(offsets).as("o"),
            $"cx", $"cy")
          .select($"vec_id", $"xi", $"yi",
            ($"cx" + $"o.dx").as("px"), ($"cy" + $"o.dy").as("py"))
        probe.join(
            p.select($"vec_id".as("b"), $"xi".as("xb"), $"yi".as("yb"),
              $"cx".as("px"), $"cy".as("py")),
            Seq("px", "py"))
          .where($"vec_id" < $"b")
          .withColumn("dist2",
            ($"xi" - $"xb") * ($"xi" - $"xb") +
              ($"yi" - $"yb") * ($"yi" - $"yb"))
          .where($"dist2" <= R2)
          .select($"vec_id".as("a"), $"b", $"dist2")
          .orderBy($"dist2".asc, $"a".asc, $"b".asc)
          .limit(20)
      },
      Some("""WITH p AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
        |      AS xi,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
        |      AS yi
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, xi, yi,
        |    (xi + 10000000) // 20000 AS cx,
        |    (yi + 10000000) // 20000 AS cy
        |  FROM p),
        |off AS (SELECT dx, dy
        |  FROM (VALUES (-1), (0), (1)) o1(dx),
        |    (VALUES (-1), (0), (1)) o2(dy)),
        |probe AS (
        |  SELECT vec_id, xi, yi, cx + dx AS px, cy + dy AS py
        |  FROM c, off),
        |cand AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    (a.xi - b.xi) * (a.xi - b.xi)
        |      + (a.yi - b.yi) * (a.yi - b.yi) AS dist2
        |  FROM probe a JOIN c b ON a.px = b.cx AND a.py = b.cy
        |    AND a.vec_id < b.vec_id)
        |SELECT a, b, CAST(dist2 AS BIGINT) AS dist2
        |FROM cand WHERE dist2 <= CAST(20000 AS BIGINT) * 20000
        |ORDER BY dist2 ASC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // ── CUSUM changepoint per event type — where did the daily rate
    //    shift? Deviations from the series mean accumulate WITHOUT
    //    division: S_k = Σ_{i≤k} (n·y_i − T) is n times the usual
    //    mean-centered CUSUM (n = #days, T = Σy), pure BIGINT, and the
    //    changepoint is the day of max |S_k| (earliest day on ties).
    //    One keyed rollup shuffle; the prefix sum and argmax run on the
    //    post-agg (type, day) table, bounded by the calendar — the
    //    level-shift detector behind ingestion-drift alerts, exact at
    //    any corpus size.
    QueryDef(
      "q202_cusum_shift",
      (s, dir) => {
        import s.implicits._
        val wt = Window.partitionBy($"event_type")
        val ws = Window.partitionBy($"event_type").orderBy($"d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val daily = Tables.events(s, dir)
          .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
          .agg(count(lit(1)).as("y"))
        val s1 = daily
          .withColumn("n", count(lit(1)).over(wt))
          .withColumn("t", sum($"y").over(wt))
        val s2 = s1.withColumn("s", sum($"n" * $"y" - $"t").over(ws))
        s2.withColumn("rn", row_number().over(
            Window.partitionBy($"event_type")
              .orderBy(abs($"s").desc, $"d".asc)))
          .where($"rn" === 1)
          .select($"event_type", $"n".as("n_days"),
            $"d".cast("date").as("cp_day"), abs($"s").as("s_abs"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |s1 AS (
        |  SELECT event_type, d, y,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(y) OVER (PARTITION BY event_type) AS t
        |  FROM daily),
        |s2 AS (
        |  SELECT event_type, d, n,
        |    SUM(n * y - t) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM s1),
        |ranked AS (
        |  SELECT event_type, n, d, abs(s) AS s_abs,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY abs(s) DESC, d ASC) AS rn
        |  FROM s2)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(d AS DATE) AS cp_day, CAST(s_abs AS BIGINT) AS s_abs
        |FROM ranked WHERE rn = 1""".stripMargin)),

    // ── Cross-source quantile normalization — map each source's length
    //    distribution onto the corpus-wide one by rank: NTILE(20) within
    //    source (ordered by (score, doc_id) — a UNIQUE key, so bucket
    //    assignment is deterministic in both engines), NTILE(20)
    //    globally, and each source bucket reports its own exact mean
    //    next to the global bucket's mean as the normalization target.
    //    The score-harmonization step before mixing heterogeneous
    //    sources into one quality threshold. The global NTILE is the
    //    one full-order window (at 100 TB it would come from
    //    approx-quantile cut points instead — same output contract,
    //    coarser ties); the per-source windows partition cleanly.
    QueryDef(
      "q203_quantile_norm",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
          .select($"source", $"doc_id", $"n_chars".cast("long").as("score"))
        val b = d
          .withColumn("bucket", ntile(20).over(Window.partitionBy($"source")
            .orderBy($"score", $"doc_id")).cast("long"))
          .withColumn("gbucket", ntile(20).over(Window
            .orderBy($"score", $"doc_id")).cast("long"))
          .localCheckpoint()
        val gref = b.groupBy($"gbucket".as("bucket"))
          .agg((sum($"score").cast("double") / count(lit(1))).as("norm_value"))
        b.groupBy($"source", $"bucket")
          .agg(count(lit(1)).as("n_docs"),
            (sum($"score").cast("double") / count(lit(1))).as("src_mean"))
          .join(gref, Seq("bucket"))
          .select($"source", $"bucket", $"n_docs", $"src_mean",
            $"norm_value")
      },
      Some("""WITH d AS (
        |  SELECT source, doc_id, n_chars AS score FROM documents),
        |b AS (
        |  SELECT source, score,
        |    NTILE(20) OVER (PARTITION BY source
        |      ORDER BY score, doc_id) AS bucket,
        |    NTILE(20) OVER (ORDER BY score, doc_id) AS gbucket
        |  FROM d),
        |gref AS (
        |  SELECT gbucket AS bucket,
        |    CAST(SUM(score) AS DOUBLE) / COUNT(*) AS norm_value
        |  FROM b GROUP BY 1),
        |sb AS (
        |  SELECT source, CAST(bucket AS BIGINT) AS bucket,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(score) AS DOUBLE) / COUNT(*) AS src_mean
        |  FROM b GROUP BY 1, 2)
        |SELECT sb.source, sb.bucket, CAST(sb.n_docs AS BIGINT) AS n_docs,
        |  sb.src_mean, gref.norm_value
        |FROM sb JOIN gref ON sb.bucket = gref.bucket"""
        .stripMargin)),

    // ── Association lift between event types — market-basket mining
    //    over per-user behavior sets: support counts c_a, c_b, c_ab from
    //    ONE distinct (user, type) table (|users|·|types| rows, never
    //    events²), lift = n·c_ab / (c_a·c_b) and confidence = c_ab/c_a
    //    each a single double division of exact BIGINTs — the
    //    "users who error also purchase?" correlation miner, with the
    //    user-level self-join keyed on user_id so its fan-out is
    //    |types|² per user, constant. The 1-row user total broadcasts.
    QueryDef(
      "q204_lift_rules",
      (s, dir) => {
        import s.implicits._
        val ut = Tables.events(s, dir)
          .select($"user_id", $"event_type").distinct()
          .localCheckpoint()
        val n = ut.select($"user_id").distinct()
          .agg(count(lit(1)).as("n_users"))
        val ca = ut.groupBy($"event_type").agg(count(lit(1)).as("c"))
        val cab = ut.select($"user_id", $"event_type".as("type_a"))
          .join(ut.select($"user_id", $"event_type".as("type_b")),
            Seq("user_id"))
          .where($"type_a" < $"type_b")
          .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("c_ab"))
        cab
          .join(ca.select($"event_type".as("type_a"), $"c".as("c_a")),
            Seq("type_a"))
          .join(ca.select($"event_type".as("type_b"), $"c".as("c_b")),
            Seq("type_b"))
          .crossJoin(broadcast(n))
          .select($"type_a", $"type_b", $"c_a", $"c_b", $"c_ab",
            (($"n_users" * $"c_ab").cast("double") /
              ($"c_a" * $"c_b").cast("double")).as("lift"),
            ($"c_ab".cast("double") / $"c_a".cast("double"))
              .as("conf_a_to_b"))
      },
      Some("""WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        |ca AS (
        |  SELECT event_type, COUNT(*) AS c FROM ut GROUP BY 1),
        |cab AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS c_ab
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(ca_a.c AS BIGINT) AS c_a,
        |  CAST(ca_b.c AS BIGINT) AS c_b, CAST(cab.c_ab AS BIGINT) AS c_ab,
        |  CAST(n.n_users * cab.c_ab AS DOUBLE) /
        |    CAST(ca_a.c * ca_b.c AS DOUBLE) AS lift,
        |  CAST(cab.c_ab AS DOUBLE) / CAST(ca_a.c AS DOUBLE)
        |    AS conf_a_to_b
        |FROM cab
        |JOIN ca ca_a ON ca_a.event_type = cab.type_a
        |JOIN ca ca_b ON ca_b.event_type = cab.type_b, n"""
        .stripMargin)),

    // ── Token-weighted median document length per source — the budget
    //    planner's "where does half my TOKEN mass sit" statistic (an
    //    unweighted median over-weights short docs; training cost is
    //    token-proportional). Selection by cumulative-weight crossing:
    //    the weighted median is the smallest length v with
    //    2·(Σ weight over lengths ≤ v) ≥ total weight — all BIGINT, no
    //    interpolation, tie-order-free because accumulation runs over
    //    the GROUPED (source, length) axis. One rollup shuffle; the
    //    crossing window is bounded by distinct lengths per source.
    QueryDef(
      "q207_weighted_median",
      (s, dir) => {
        import s.implicits._
        val g = Tables.documents(s, dir)
          .select($"source", $"n_chars".cast("long").as("value"),
            size(TextAnalysis.tokens($"text")).cast("long").as("w"))
          .groupBy($"source", $"value").agg(sum($"w").as("w"))
        val wt = Window.partitionBy($"source")
        val wc = Window.partitionBy($"source").orderBy($"value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.withColumn("tot", sum($"w").over(wt))
          .withColumn("cum", sum($"w").over(wc))
          .where(lit(2L) * $"cum" >= $"tot")
          .groupBy($"source")
          .agg(min($"value").as("w_median_chars"), min($"tot").as("total_w"))
      },
      Some("""WITH d AS (
        |  SELECT source, n_chars AS value,
        |    CAST(len(CASE WHEN length(trim(text)) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(text)), '\s+') END)
        |      AS BIGINT) AS w
        |  FROM documents),
        |g AS (
        |  SELECT source, value, SUM(w) AS w FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT source, value, w,
        |    SUM(w) OVER (PARTITION BY source) AS tot,
        |    SUM(w) OVER (PARTITION BY source ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g)
        |SELECT source, MIN(value) AS w_median_chars,
        |  CAST(MIN(tot) AS BIGINT) AS total_w
        |FROM c WHERE 2 * cum >= tot GROUP BY source"""
        .stripMargin)),

    // ── Spearman rank correlation per source — does length track token
    //    count monotonically, source by source? Ranks are TIE-CORRECTED
    //    without a single float: doubled average rank 2·avg = 2·minrank
    //    + ties − 1 is an exact BIGINT (minrank from RANK(), ties from a
    //    COUNT window), all five Pearson sums over these doubled ranks
    //    are BIGINT, and the doubling cancels exactly in the ratio (the
    //    final expression is the one double division over two
    //    correctly-rounded sqrts, written identically in both engines).
    //    The monotone-association profiler for signal redundancy —
    //    Pearson (q134) sees only linear links. Windows partition by
    //    source; at 100 TB ranks would come from binned ECDFs instead.
    QueryDef(
      "q208_spearman",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
          .select($"source", $"doc_id", $"n_chars".cast("long").as("x"),
            size(TextAnalysis.tokens($"text")).cast("long").as("y"))
        def dubRank(c: String) = // 2 * average rank of column c, exact
          lit(2L) * rank().over(Window.partitionBy($"source")
            .orderBy(col(c))).cast("long") +
            count(lit(1)).over(Window.partitionBy($"source", col(c))) -
            lit(1L)
        val ranked = d
          .withColumn("u", dubRank("x"))
          .withColumn("v", dubRank("y"))
        ranked.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"u").as("su"), sum($"v").as("sv"),
            sum($"u" * $"u").as("suu"), sum($"v" * $"v").as("svv"),
            sum($"u" * $"v").as("suv"))
          .select($"source", $"n_docs",
            when($"n_docs" * $"suu" - $"su" * $"su" > 0 &&
                $"n_docs" * $"svv" - $"sv" * $"sv" > 0,
              ($"n_docs" * $"suv" - $"su" * $"sv").cast("double") /
                (sqrt(($"n_docs" * $"suu" - $"su" * $"su").cast("double")) *
                  sqrt(($"n_docs" * $"svv" - $"sv" * $"sv").cast("double"))))
              .as("rho"))
      },
      Some("""WITH d AS (
        |  SELECT source, doc_id, n_chars AS x,
        |    CAST(len(CASE WHEN length(trim(text)) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(text)), '\s+') END)
        |      AS BIGINT) AS y
        |  FROM documents),
        |ranked AS (
        |  SELECT source,
        |    2 * RANK() OVER (PARTITION BY source ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY source, x) - 1 AS u,
        |    2 * RANK() OVER (PARTITION BY source ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY source, y) - 1 AS v
        |  FROM d),
        |sums AS (
        |  SELECT source, COUNT(*) AS n, SUM(u) AS su, SUM(v) AS sv,
        |    SUM(u * u) AS suu, SUM(v * v) AS svv, SUM(u * v) AS suv
        |  FROM ranked GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CASE WHEN n * suu - su * su > 0 AND n * svv - sv * sv > 0 THEN
        |    CAST(n * suv - su * sv AS DOUBLE) /
        |      (sqrt(CAST(n * suu - su * su AS DOUBLE)) *
        |        sqrt(CAST(n * svv - sv * sv AS DOUBLE)))
        |    ELSE NULL END AS rho
        |FROM sums""".stripMargin)),

    // ── Sole-late-supplier audit (the TPC-H Q21 shape) — suppliers who
    //    were the ONLY late shipper on multi-supplier orders: a
    //    semi-join ("another supplier shipped this order") and an
    //    anti-join ("no OTHER supplier shipped late") stacked on the
    //    same per-(order, supplier) rollup, both keyed on the order —
    //    the blame-isolation pattern for multi-party pipelines. Late =
    //    shipped > 60 days after order date, exact date arithmetic.
    //    One rollup shuffle + two order-keyed joins; top-10 via
    //    TakeOrdered, never a global sort.
    QueryDef(
      "q209_sole_late_supplier",
      (s, dir) => {
        import s.implicits._
        val os = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_orderkey".as("ok"), $"l_suppkey".as("sk"))
          .agg(max(when(
            expr("l_shipdate > o_orderdate + INTERVAL 60 DAY"),
            1L).otherwise(0L)).as("late"))
        // r16 optimization (guide §2.4): the semi ("another supplier on
        // the order") + anti ("no OTHER late supplier") stack re-shuffled
        // the checkpointed rollup by ok THREE times. os is one row per
        // (ok, sk), so both probes are per-order aggregates — n_sups ≥ 2
        // ⇔ EXISTS another supplier, and (late = 1 AND Σlate = 1) ⇔ NOT
        // EXISTS another late one. Two window aggregates over ONE
        // order-keyed sort replace both joins; at cluster scale the
        // lineitem⋈orders SMJ output is already hash-partitioned on the
        // order key, which satisfies BOTH the (ok, sk) rollup and the
        // ok-window, so the whole post-join pipeline runs exchange-free.
        // Output row set is unchanged (TPC-H Q21's standard equivalence;
        // oracle SQL deliberately untouched).
        val perOrder = Window.partitionBy($"ok")
        val soleLate = os
          .withColumn("n_sups", count(lit(1)).over(perOrder))
          .withColumn("n_late", sum($"late").over(perOrder))
          .where($"late" === 1L && $"n_sups" >= 2L && $"n_late" === 1L)
        soleLate.groupBy($"sk")
          .agg(count(lit(1)).as("numwait"))
          .join(Tables.supplier(s, dir)
            .select($"s_suppkey".as("sk"), $"s_name"), "sk")
          .select($"s_name", $"numwait")
          .orderBy($"numwait".desc, $"s_name".asc)
          .limit(10)
      },
      Some("""WITH os AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |sole AS (
        |  SELECT a.ok, a.sk FROM os a
        |  WHERE a.late = 1
        |    AND EXISTS (SELECT 1 FROM os b
        |      WHERE b.ok = a.ok AND b.sk <> a.sk)
        |    AND NOT EXISTS (SELECT 1 FROM os c
        |      WHERE c.ok = a.ok AND c.sk <> a.sk AND c.late = 1))
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM sole JOIN supplier ON sk = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin)),

    // ── Linear interpolation gap-fill — the interpolating complement of
    //    q194's LOCF: each error-nulled reading is reconstructed from
    //    its nearest non-null neighbors on BOTH sides, weighted by exact
    //    integer microsecond offsets: v0 + (v1−v0)·(t−t0)/(t1−t0), one
    //    pinned-order IEEE tree identical in both engines, then
    //    floor-1e9 truncation (display rounding ties HALF_UP vs
    //    HALF_EVEN; floor has no ties). The four IGNORE-NULLS windows
    //    share two keyed sort specs; rows with a missing side are
    //    reported unfilled — no fabrication at series edges.
    QueryDef(
      "q210_linear_interp",
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
          .select($"user_id", $"event_id",
            unix_micros($"ts").as("us"),
            when($"event_type" === "error", lit(null).cast("double"))
              .otherwise($"value").as("v"))
        val back = Window.partitionBy($"user_id")
          .orderBy($"us", $"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val fwd = Window.partitionBy($"user_id")
          .orderBy($"us", $"event_id")
          .rowsBetween(1, Window.unboundedFollowing)
        val marked = e
          .withColumn("us0", last(when($"v".isNotNull, $"us"), true).over(back))
          .withColumn("v0", last($"v", true).over(back))
          .withColumn("us1", first(when($"v".isNotNull, $"us"), true).over(fwd))
          .withColumn("v1", first($"v", true).over(fwd))
        marked.where($"v".isNull)
          .select($"user_id", $"event_id",
            ($"us0".isNotNull && $"us1".isNotNull).as("filled"),
            when($"us0".isNotNull && $"us1".isNotNull,
              floor(($"v0" + ($"v1" - $"v0") *
                (($"us" - $"us0").cast("double") /
                  ($"us1" - $"us0").cast("double"))) * lit(1e9))
                .cast("long")).as("v_interp_1e9"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, us, v,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS us0,
        |    LAST_VALUE(v IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v0,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS us1,
        |    FIRST_VALUE(v IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1
        |  FROM e)
        |SELECT user_id, event_id,
        |  us0 IS NOT NULL AND us1 IS NOT NULL AS filled,
        |  CASE WHEN us0 IS NOT NULL AND us1 IS NOT NULL THEN
        |    CAST(floor((v0 + (v1 - v0) *
        |      (CAST(us - us0 AS DOUBLE) / CAST(us1 - us0 AS DOUBLE)))
        |      * 1e9) AS BIGINT)
        |    ELSE NULL END AS v_interp_1e9
        |FROM m WHERE v IS NULL""".stripMargin)),

    // ── Sparse TF-IDF cosine similarity self-join — the all-pairs
    //    similarity join done index-first with EXACT prefix filtering
    //    (Bayardo/Chaudhuri): document vectors are integer-weighted
    //    (tf · capped linear-idf ·1000, no logs), and each doc indexes
    //    only its PREFIX under the global rarity order (df asc, tok asc):
    //    a term is indexed iff the squared tail norm from that term on
    //    still holds ≥ τ² of the doc's squared norm (integer form:
    //    25·tail2 ≥ 16·n2 for τ=0.8). Correctness is a theorem, not a
    //    heuristic: for any pair with cos ≥ τ, the rarest shared term t*
    //    must sit in BOTH prefixes — were it past either cut, every
    //    shared term would lie in that doc's sub-τ tail and Cauchy-
    //    Schwarz bounds cos < τ. So the candidate join on indexed terms
    //    has NO false negatives, and candidate mass is proportional to
    //    genuinely-similar postings (rare, heavy terms), never a corpus
    //    fraction — the at-scale fix for the old df ≤ N/4 cap, whose
    //    hottest admitted token alone could contribute (N/4)² pairs.
    //    Pair scope is WITHIN-SOURCE (the standard domain-blocking
    //    quotient run before any fuzzy matcher): the candidate join keys
    //    on (source, term), so each block's pair space is bounded by its
    //    own similar-pair mass — on this deliberately self-similar
    //    fixture the unblocked join is ~3.6% dense (454k true pairs at
    //    sf0.1), and blocking is exactly what production would do; the
    //    cross-source story is q251's. The τ=0.8 acceptance is EXACT
    //    integer arithmetic — 25·dot² ≥ 16·na·nb evaluated in the fused
    //    native kernel [[graft.functions.SparseCosAccept]] (128-bit
    //    integers, double fast-reject with a proof-safe margin) — no
    //    float enters the keep/drop decision. Norms and idf include ALL
    //    terms, so accepted cosines are true corpus cosines. Top-20 by
    //    the 4-digit cos² proxy, one deterministic double division per
    //    pair.
    QueryDef(
      "q211_sparse_cosine_pairs",
      (s, dir) => {
        import s.implicits._
        val tf = Tables.documents(s, dir)
          .select($"doc_id", $"source",
            explode(TextAnalysis.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"tok")
          .agg(count(lit(1)).as("tf"), max($"source").as("source"))
          .localCheckpoint()
        val n = tf.select($"doc_id").distinct()
          .agg(count(lit(1)).as("n_docs"))
        // tok_id: collision-free dictionary encode of the vocab dimension
        // (ids are internal — the dot over (id, w) equals the dot over
        // (tok, w) for ANY injective id, so the oracle's string-keyed join
        // computes the identical value). Assigned before the checkpoint,
        // so every consumer (index, vectors) reads ONE consistent
        // dictionary; the merge kernel then compares longs, not strings —
        // measured ~4x faster per candidate (PLANS.md). Round 15: the ids
        // are additionally RARITY-ORDER-PRESERVING — the property the
        // lowest-shared-term emission rule below compares on. Round 16
        // (r15 ADVICE): minted via RDD zipWithIndex over the sorted plan
        // instead of monotonically_increasing_id — zipWithIndex's index
        // order over a sorted Dataset's .rdd is a CONTRACT (result
        // ordering is query semantics for .rdd, same as .collect; indices
        // follow iteration order), whereas mono-ids matching the sort
        // relied on two Spark implementation details (the nondeterministic
        // project blocking EliminateSorts + range-partition index order)
        // that an optimizer/AQE change could silently break, dropping
        // candidate pairs. Cost: one extra count job over the vocab —
        // noise next to the pairwise stage; still no single-partition
        // rank window.
        val dfSorted = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
          .orderBy($"df".asc, $"tok".asc)
        val df = s.createDataFrame(
          dfSorted.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
          },
          dfSorted.schema.add("tok_id",
            org.apache.spark.sql.types.LongType, nullable = false))
        val w = tf.join(df, "tok").crossJoin(broadcast(n))
          .select($"doc_id", $"source", $"tok", $"tok_id", $"df", $"n_docs",
            ($"tf" * least(expr("(n_docs * 1000) div df"), lit(100000L)))
              .as("w"))
          .localCheckpoint()
        // prefix cut: per-doc suffix sums of w² under the global
        // (df asc, tok asc) order — one hash shuffle on doc_id, both
        // window sums share the partition; DECIMAL(38,0) comparison so a
        // pathological mega-doc can't overflow the 25·tail2 product
        val byRarity = Window.partitionBy($"doc_id")
          .orderBy($"df".asc, $"tok".asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val idx = w
          .withColumn("tail2", sum($"w" * $"w").over(byRarity))
          .withColumn("nn2",
            sum($"w" * $"w").over(Window.partitionBy($"doc_id")))
          .where(expr("CAST(tail2 AS DECIMAL(38,0)) * 25 >= " +
            "CAST(nn2 AS DECIMAL(38,0)) * 16"))
          .select($"source", $"tok_id", $"doc_id")
          // full indexed-prefix array per doc (SORTED — the sorted-merge
          // emission kernel below needs ascending keys), over the SAME
          // doc_id hash partitioning the tail2/nn2 windows just used —
          // no new exchange. Carried into the candidate join so each
          // pair can be emitted from exactly ONE term (below).
          .withColumn("prefix", sort_array(
            collect_list($"tok_id").over(Window.partitionBy($"doc_id"))))
        // Candidate generation emits each pair EXACTLY ONCE: only from
        // its RAREST shared indexed term (both prefixes contain the join
        // term, so min(intersect) <= tok_id, with equality for exactly
        // one term per pair) — q59's lowest-shared-band rule transposed
        // to terms. This REPLACES the r14-era `.distinct()`: the 4 GiB
        // constrained-heap soak at gen-sf1 showed that distinct's
        // map-side HashAggregate over the quadratic candidate mass spills
        // correctly but OOMs at spill-MERGE (one ReadAheadInputStream
        // buffer per spill file x 32 concurrent tasks), i.e. the
        // corpus-mass exchange itself is the scale hazard. A narrow
        // codegen'd predicate on two <= prefix-length arrays costs no
        // exchange at all; output pairs are provably identical.
        graft.functions.GraftFunctions.register(s)
        val cand = idx.select($"source", $"tok_id", $"doc_id".as("a"),
            $"prefix".as("pa"))
          .join(idx.select($"source", $"tok_id", $"doc_id".as("b"),
            $"prefix".as("pb")), Seq("source", "tok_id"))
          .where($"a" < $"b" &&
            call_function("sorted_min_eq", $"pa", $"pb", $"tok_id"))
          .select($"source", $"a", $"b")
        // verification reads ONE pre-aggregated sparse vector per doc
        // (n_docs rows, sorted term/weight arrays): candidates join this
        // slim table twice and the dot collapses in the native
        // sorted-merge kernel [[graft.functions.SparseDotLong]] inside a
        // map-stage projection. The explode-pairs-by-terms-and-regroup
        // alternative shuffles |pairs| x terms-per-doc rows twice —
        // measured 14x slower end-to-end at sf0.1 (PLANS.md).
        val vecs = w
          .groupBy($"doc_id").agg(
            sort_array(collect_list(struct($"tok_id", $"w"))).as("tw"),
            sum($"w" * $"w").as("n2"))
          .select($"doc_id",
            expr("transform(tw, x -> x.tok_id)").as("toks"),
            expr("transform(tw, x -> x.w)").as("ws"),
            $"n2")
        graft.functions.GraftFunctions.register(s)
        cand
          .join(vecs.select($"doc_id".as("a"), $"toks".as("ta"),
            $"ws".as("wsa"), $"n2".as("na")), Seq("a"))
          .join(vecs.select($"doc_id".as("b"), $"toks".as("tb"),
            $"ws".as("wsb"), $"n2".as("nb")), Seq("b"))
          .select($"source", $"a", $"b",
            graft.functions.SparseCosAccept.sparseCosAccept(
              $"ta", $"wsa", $"tb", $"wsb", $"na", $"nb").as("cos2_1e4"))
          .where($"cos2_1e4".isNotNull)
          .orderBy($"cos2_1e4".desc, $"a".asc, $"b".asc)
          .limit(20)
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, source, unnest(CASE WHEN length(trim(text)) = 0
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(text)), '\s+') END) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf, MAX(source) AS source
        |  FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        |df0 AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |df AS (
        |  SELECT tok, df, ROW_NUMBER() OVER (ORDER BY df, tok) AS r
        |  FROM df0),
        |w AS (
        |  SELECT doc_id, tf.source, tf.tok, df.df, df.r, n.n_docs,
        |    tf.tf * LEAST((n.n_docs * 1000) // df.df, 100000) AS w
        |  FROM tf JOIN df ON tf.tok = df.tok, n),
        |norms AS (
        |  SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY 1),
        |idx AS (
        |  SELECT source, tok, r, doc_id FROM (
        |    SELECT source, tok, r, doc_id,
        |      SUM(w * w) OVER (PARTITION BY doc_id
        |        ORDER BY df ASC, tok ASC
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tail2,
        |      SUM(w * w) OVER (PARTITION BY doc_id) AS nn2
        |    FROM w)
        |  WHERE 25 * tail2 >= 16 * nn2),
        |pfx AS (SELECT doc_id, list(r) AS p FROM idx GROUP BY 1),
        |cand AS (
        |  SELECT x.source, x.doc_id AS a, y.doc_id AS b
        |  FROM idx x JOIN idx y ON x.tok = y.tok AND x.source = y.source
        |    AND x.doc_id < y.doc_id
        |  JOIN pfx px ON px.doc_id = x.doc_id
        |  JOIN pfx py ON py.doc_id = y.doc_id
        |  WHERE list_min(list_intersect(px.p, py.p)) = x.r),
        |dots AS (
        |  SELECT c.source, c.a, c.b, SUM(wa.w * wb.w) AS dot
        |  FROM cand c
        |  JOIN w wa ON wa.doc_id = c.a
        |  JOIN w wb ON wb.doc_id = c.b AND wb.tok = wa.tok
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT d.source, d.a, d.b,
        |    CAST(d.dot AS HUGEINT) * CAST(d.dot AS HUGEINT) AS d2,
        |    CAST(x.n2 AS HUGEINT) * CAST(y.n2 AS HUGEINT) AS nanb
        |  FROM dots d
        |  JOIN norms x ON x.doc_id = d.a
        |  JOIN norms y ON y.doc_id = d.b)
        |SELECT source, a, b,
        |  CAST(floor(CAST(d2 AS DOUBLE) / CAST(nanb AS DOUBLE) * 10000)
        |    AS BIGINT) AS cos2_1e4
        |FROM scored WHERE 25 * d2 >= 16 * nanb
        |ORDER BY cos2_1e4 DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // ── Total-variation drift of hourly activity — how far each event
    //    type's hour-of-day profile sits from the corpus-wide one:
    //    TVD = ½ Σ_h |p_h − q_h|, cross-multiplied to the exact integer
    //    Σ_h |c_h·M − g_h·N| over the 24-bin histograms so the distance
    //    is BIGINT until one final double division by 2·N·M. The
    //    bounded-[0,1] drift score that (unlike q107's χ²) never
    //    explodes on rare bins — the scheduled-job fingerprint detector.
    //    Two keyed rollups + a 24-row broadcast join.
    QueryDef(
      "q212_tvd_drift",
      (s, dir) => {
        import s.implicits._
        val hours = Tables.events(s, dir)
          .select($"event_type", hour($"ts").as("h"))
        val byType = hours.groupBy($"event_type", $"h")
          .agg(count(lit(1)).as("c"))
        val glob = hours.groupBy($"h").agg(count(lit(1)).as("g"))
        val m = hours.agg(count(lit(1)).as("m"))
        byType
          .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
          .join(broadcast(glob), Seq("h"))
          .crossJoin(broadcast(m))
          .groupBy($"event_type")
          .agg(min($"n").as("n_events"),
            sum(abs($"c" * $"m" - $"g" * $"n")).as("num"),
            min($"m").as("mm"))
          .select($"event_type", $"n_events",
            ($"num".cast("double") /
              (lit(2L) * $"n_events" * $"mm").cast("double")).as("tvd"))
      },
      Some("""WITH hours AS (
        |  SELECT event_type, EXTRACT(hour FROM ts) AS h FROM events),
        |bt AS (
        |  SELECT event_type, h, COUNT(*) AS c FROM hours GROUP BY 1, 2),
        |g AS (SELECT h, COUNT(*) AS g FROM hours GROUP BY 1),
        |m AS (SELECT COUNT(*) AS m FROM hours),
        |wn AS (
        |  SELECT event_type, h, c,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM bt)
        |SELECT wn.event_type, CAST(MIN(wn.n) AS BIGINT) AS n_events,
        |  CAST(SUM(abs(wn.c * m.m - g.g * wn.n)) AS DOUBLE) /
        |    CAST(2 * MIN(wn.n) * MIN(m.m) AS DOUBLE) AS tvd
        |FROM wn JOIN g ON wn.h = g.h, m
        |GROUP BY wn.event_type""".stripMargin)),

    // ── Cohort LTV curve — cumulative per-user purchase value by cohort
    //    age: users cohort on their first-seen week, purchase value
    //    accumulates across age weeks IN EXACT DECIMAL (the running
    //    window sums DECIMAL(18,4) partials — float order never enters;
    //    one cast to double at the end, then one division by cohort
    //    size). The retention-value complement of q87's count-based
    //    retention triangle. Two keyed rollups; the running window is
    //    bounded by the calendar.
    QueryDef(
      "q213_cohort_ltv",
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
        val firstSeen = e.groupBy($"user_id")
          .agg(date_trunc("week", min($"ts")).as("cohort"))
        val cohortSize = firstSeen.groupBy($"cohort")
          .agg(count(lit(1)).as("n_users"))
        val purchases = e.where($"event_type" === "purchase")
          .join(broadcast(firstSeen), "user_id")
          .groupBy($"cohort",
            (datediff(date_trunc("week", $"ts"), $"cohort") / 7)
              .cast("long").as("age_weeks"))
          .agg(sum($"value".cast(DecimalType(18, 4))).as("v"))
        purchases
          .withColumn("cum_v", sum($"v").over(
            Window.partitionBy($"cohort").orderBy($"age_weeks")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(cohortSize), "cohort")
          .select($"cohort".cast("date").as("cohort_week"), $"age_weeks",
            $"n_users",
            ($"cum_v".cast("double") / $"n_users".cast("double"))
              .as("ltv_per_user"))
      },
      Some("""WITH fs AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        |  FROM events GROUP BY 1),
        |cs AS (SELECT cohort, COUNT(*) AS n_users FROM fs GROUP BY 1),
        |p AS (
        |  SELECT fs.cohort,
        |    date_diff('day', fs.cohort, date_trunc('week', e.ts)) // 7
        |      AS age_weeks,
        |    SUM(CAST(e.value AS DECIMAL(18,4))) AS v
        |  FROM events e JOIN fs ON e.user_id = fs.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort, age_weeks,
        |    SUM(v) OVER (PARTITION BY cohort ORDER BY age_weeks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v
        |  FROM p)
        |SELECT CAST(c.cohort AS DATE) AS cohort_week,
        |  CAST(c.age_weeks AS BIGINT) AS age_weeks,
        |  CAST(cs.n_users AS BIGINT) AS n_users,
        |  CAST(c.cum_v AS DOUBLE) / CAST(cs.n_users AS DOUBLE)
        |    AS ltv_per_user
        |FROM c JOIN cs ON c.cohort = cs.cohort""".stripMargin)),

    // ── Peak sustained load per event type — the maximum event count in
    //    ANY 1-hour window (not just aligned hours, which q43 already
    //    has): every window worth checking starts at an event, so a
    //    RANGE frame over exact microseconds (CURRENT ROW .. +3600s)
    //    counts each candidate window in one pass — the two-pointer
    //    sweep as a window frame, no interval self-join, no Expand
    //    multiplier. Argmax by (count desc, start asc) is exact. The
    //    capacity number behind rate-limit and autoscale sizing. The
    //    per-type time-ordered frame is the documented serial axis (at
    //    100 TB: day-partition with 1-hour overlap, same contract).
    QueryDef(
      "q216_peak_load",
      (s, dir) => {
        import s.implicits._
        val wr = Window.partitionBy($"event_type").orderBy($"us")
          .rangeBetween(0L, 3600000000L)
        val e = Tables.events(s, dir)
          .select($"event_type", unix_micros($"ts").as("us"))
        e.withColumn("cnt", count(lit(1)).over(wr))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"event_type")
              .orderBy($"cnt".desc, $"us".asc)))
          .where($"rn" === 1)
          .select($"event_type", $"us".as("peak_start_us"),
            $"cnt".as("peak_events_1h"))
      },
      Some("""WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events),
        |c AS (
        |  SELECT event_type, us,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY us
        |      RANGE BETWEEN CURRENT ROW AND 3600000000 FOLLOWING)
        |      AS cnt
        |  FROM e),
        |r AS (
        |  SELECT event_type, us, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, us ASC) AS rn
        |  FROM c)
        |SELECT event_type, us AS peak_start_us,
        |  CAST(cnt AS BIGINT) AS peak_events_1h
        |FROM r WHERE rn = 1""".stripMargin)),

    // ── Activity streaks (gaps-and-islands) — longest consecutive-day
    //    run per user via the classic island key: day_index − row_number
    //    is CONSTANT exactly while days are consecutive, so one keyed
    //    window + one rollup finds every streak without any self-join
    //    or recursion. Engagement-curve primitive; windows partition by
    //    user and run over distinct active days (≤ calendar length).
    QueryDef(
      "q217_streaks",
      (s, dir) => {
        import s.implicits._
        val days = Tables.events(s, dir)
          .select($"user_id", date_trunc("day", $"ts").cast("date").as("d"))
          .distinct()
          .withColumn("day_no", datediff($"d", lit("1970-01-01")))
        val grp = days.withColumn("grp",
          $"day_no" - row_number().over(Window.partitionBy($"user_id")
            .orderBy($"day_no")))
        val streaks = grp.groupBy($"user_id", $"grp")
          .agg(count(lit(1)).as("len"))
        streaks.groupBy($"user_id")
          .agg(sum($"len").as("n_active_days"),
            max($"len").as("longest_streak"),
            count(lit(1)).as("n_streaks"))
      },
      Some("""WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
        |    AS d
        |  FROM events),
        |g AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '1970-01-01', d)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY date_diff('day', DATE '1970-01-01', d)) AS grp
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  COUNT(*) AS n_streaks
        |FROM streaks GROUP BY user_id""".stripMargin)),

    // ── Order-independent table fingerprint per day — replication and
    //    migration audits compare snapshots WITHOUT sorting: each row's
    //    canonical key-string hashes to the engine-neutral 60-bit md5
    //    integer (the q63 split hash), and BIT_XOR folds them — xor is
    //    commutative/associative, so partial aggregation order, shuffle
    //    layout, and row order can't move a bit, and two tables are
    //    byte-compared by ≤ #days fingerprint rows instead of a full
    //    sort-merge diff. Only identity/string/date columns enter the
    //    canonical string (doubles would need a format contract).
    QueryDef(
      "q218_table_fingerprint",
      (s, dir) => {
        import s.implicits._
        val canon = concat_ws("|",
          $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority")
        Tables.orders(s, dir)
          .select($"o_orderdate".cast("date").as("day"),
            expr(s"CAST(conv(substring(md5(concat_ws('|', o_orderkey, " +
              "o_custkey, o_orderstatus, o_orderpriority)), 1, 15), 16, 10)" +
              " AS BIGINT)").as("h"))
          .groupBy($"day")
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("fp"))
      },
      Some("""SELECT CAST(o_orderdate AS DATE) AS day,
        |  COUNT(*) AS n_rows,
        |  BIT_XOR(('0x' || substr(md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' ||
        |    CAST(o_custkey AS VARCHAR) || '|' ||
        |    o_orderstatus || '|' || o_orderpriority), 1, 15))::BIGINT)
        |    AS fp
        |FROM orders GROUP BY 1""".stripMargin)),

    // ── Z-order locality audit — evidence for multi-dimensional layout:
    //    snap embedding dims (0,1) to 16-bit grid cells, interleave the
    //    bits into the Morton key with four spread-shift-mask steps
    //    (pure integer, identical in both engines), then measure what
    //    fraction of ADJACENT pairs in Z order sit within Chebyshev
    //    distance 4 on the grid, against the same fraction in vec_id
    //    order. The number that justifies Z-order clustering for 2-D
    //    range pruning at 100 TB (where the adjacency sweep runs per
    //    file/partition, not globally). Everything integer until two
    //    final divisions.
    QueryDef(
      "q219_zorder_locality",
      (s, dir) => {
        import s.implicits._
        val p = Tables.embeddings(s, dir)
          .select($"vec_id",
            floor(element_at($"embedding", 1).cast("double") * 1e6)
              .cast("long").as("xi"),
            floor(element_at($"embedding", 2).cast("double") * 1e6)
              .cast("long").as("yi"))
          .withColumn("gx", expr("(xi + 10000000) div 65536"))
          .withColumn("gy", expr("(yi + 10000000) div 65536"))
          .withColumn("z",
            expr(s"(${spread16("gx")}) * 2 + (${spread16("gy")})"))
        // the adjacency sweep is value-range-bucketed, NOT a global-sort
        // window: bucket = fixed-width slice of [min, max] (<= 256
        // buckets at any scale), per-bucket lead reproduces the global
        // adjacency inside each slice (slices are contiguous in the
        // order), and the <= 256 bucket edge rows are stitched with one
        // broadcast non-equi join (last of bucket k x first of next
        // non-empty bucket). Pair multiset == the global lead's, with no
        // Exchange SinglePartition over point-sized data; ties in the
        // order key are harmless because equal z means equal (gx, gy).
        def closeFrac(ordCol: String) = {
          val q0 = p.select($"gx", $"gy", col(ordCol).as("ord"))
          val stats = q0.agg(min($"ord").as("lo"), max($"ord").as("hi"))
          val q = q0.crossJoin(broadcast(stats))
            .withColumn("bk",
              expr("(ord - lo) div (((hi - lo) div 256) + 1)"))
          val wnd = Window.partitionBy($"bk").orderBy($"ord")
          val within = q
            .withColumn("ngx", lead($"gx", 1).over(wnd))
            .withColumn("ngy", lead($"gy", 1).over(wnd))
            .where($"ngx".isNotNull)
            .select($"gx", $"gy", $"ngx", $"ngy")
          val lasts = q.groupBy($"bk")
            .agg(max_by(struct($"gx", $"gy"), $"ord").as("lr"))
          val firsts = q.groupBy($"bk")
            .agg(min_by(struct($"gx", $"gy"), $"ord").as("fr"))
          val boundary = lasts
            .join(broadcast(firsts.withColumnRenamed("bk", "nbk")),
              $"nbk" > $"bk")
            .groupBy($"bk", $"lr")
            .agg(min_by($"fr", $"nbk").as("fr"))
            .select($"lr.gx".as("gx"), $"lr.gy".as("gy"),
              $"fr.gx".as("ngx"), $"fr.gy".as("ngy"))
          within.unionByName(boundary)
            .agg(count(lit(1)).as("n_pairs"),
              sum(when(greatest(abs($"ngx" - $"gx"), abs($"ngy" - $"gy"))
                <= 4L, 1L).otherwise(0L)).as("n_close"))
        }
        val zf = closeFrac("z")
          .select($"n_pairs", ($"n_close".cast("double") /
            $"n_pairs".cast("double")).as("z_close_frac"))
        val idf = closeFrac("vec_id")
          .select(($"n_close".cast("double") /
            $"n_pairs".cast("double")).as("id_close_frac"))
        zf.crossJoin(idf)
      },
      Some {
        s"""WITH p AS (
        |  SELECT vec_id,
        |    (CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
        |      + 10000000) // 65536 AS gx,
        |    (CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
        |      + 10000000) // 65536 AS gy
        |  FROM embeddings),
        |z AS (
        |  SELECT vec_id, gx, gy,
        |    (${spread16("gx")}) * 2 + (${spread16("gy")}) AS z
        |  FROM p),
        |zn AS (
        |  SELECT gx, gy, LEAD(gx) OVER (ORDER BY z) AS ngx,
        |    LEAD(gy) OVER (ORDER BY z) AS ngy
        |  FROM z),
        |zs AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN greatest(abs(ngx - gx), abs(ngy - gy)) <= 4
        |      THEN 1 ELSE 0 END) AS n_close
        |  FROM zn WHERE ngx IS NOT NULL),
        |inn AS (
        |  SELECT gx, gy, LEAD(gx) OVER (ORDER BY vec_id) AS ngx,
        |    LEAD(gy) OVER (ORDER BY vec_id) AS ngy
        |  FROM z),
        |ids AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN greatest(abs(ngx - gx), abs(ngy - gy)) <= 4
        |      THEN 1 ELSE 0 END) AS n_close
        |  FROM inn WHERE ngx IS NOT NULL)
        |SELECT CAST(zs.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(zs.n_close AS DOUBLE) / CAST(zs.n_pairs AS DOUBLE)
        |    AS z_close_frac,
        |  CAST(ids.n_close AS DOUBLE) / CAST(ids.n_pairs AS DOUBLE)
        |    AS id_close_frac
        |FROM zs, ids""".stripMargin
      }),

    // ── Exponentially weighted moving average of daily volume, α = 1/2 —
    //    the trend-smoothing primitive behind alerting baselines. With a
    //    half-life of one day the weights are powers of two, so the
    //    numerator Σ x·2^(30−gap) and denominator Σ 2^(30−gap) over a
    //    30-day lookback are EXACT BIGINTs (pandas ewm(adjust=True)
    //    semantics over observed days); the only float op is one final
    //    division of identical integers. Shape: each observed day emits
    //    its ≤31 forward contributions map-side (explode, no join), one
    //    (type, day) shuffle folds them — the same bounded-fan-out trick
    //    as q168, state O(lookback) per key, streaming-friendly. The
    //    30-day truncation is the bounded-state form: dropped tail weight
    //    ≤ 2^-31 of the mass.
    QueryDef(
      "q222_ewma_trend",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.events(s, dir)
          .groupBy($"event_type",
            date_trunc("day", $"ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        val contrib = daily
          .select($"event_type", $"d", $"x",
            explode(sequence(lit(0), lit(30))).as("gap"))
          .select($"event_type",
            date_add($"d", $"gap").as("td"),
            expr("x * shiftleft(CAST(1 AS BIGINT), 30 - gap)").as("num"),
            expr("shiftleft(CAST(1 AS BIGINT), 30 - gap)").as("den"))
        val folded = contrib.groupBy($"event_type", $"td")
          .agg(sum($"num").as("num"), sum($"den").as("den"))
        daily
          .join(folded.withColumnRenamed("td", "d"),
            Seq("event_type", "d"))
          .select($"event_type", $"d".as("day"), $"x".as("n_events"),
            ($"num".cast("double") / $"den".cast("double")).as("ewma"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, d + CAST(gap AS INT) AS td,
        |    x * (1::BIGINT << (30 - CAST(gap AS INT))) AS num,
        |    (1::BIGINT << (30 - CAST(gap AS INT))) AS den
        |  FROM daily,
        |    (SELECT unnest(generate_series(0, 30)) AS gap)),
        |a AS (
        |  SELECT event_type, td, SUM(num) AS num, SUM(den) AS den
        |  FROM c GROUP BY 1, 2)
        |SELECT d.event_type, d.d AS day, CAST(d.x AS BIGINT) AS n_events,
        |  CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) AS ewma
        |FROM daily d JOIN a ON a.event_type = d.event_type
        |  AND a.td = d.d""".stripMargin)),

    // ── Lag-1..7 autocorrelation of daily event volume per type — the
    //    seasonality diagnostic that says which lag a forecast baseline
    //    should difference at (q174 consumes exactly this kind of
    //    signal). Series live on the DENSE per-type day spine (missing
    //    days are true zeros, as in q174); the lag shift is a map-side
    //    7× explode joined back on the (type, day) key — bounded
    //    fan-out, no window, no range join. All six Pearson sums are
    //    exact BIGINTs; r is computed in one identically-written IEEE
    //    expression, rounded to 9 decimals before emission so libm ulp
    //    differences cannot reach the compare.
    QueryDef(
      "q224_acf",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.events(s, dir)
          .groupBy($"event_type",
            date_trunc("day", $"ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        val spine = daily.groupBy($"event_type")
          .agg(min($"d").as("d0"), max($"d").as("d1"))
          .select($"event_type",
            explode(expr("sequence(d0, d1)")).as("d"))
        val filled = spine
          .join(daily, Seq("event_type", "d"), "left")
          .select($"event_type", $"d",
            coalesce($"x", lit(0L)).as("x"))
        val shifted = filled
          .select($"event_type", $"d", $"x".as("xa"),
            explode(expr("sequence(1, 7)")).as("lag"))
          .select($"event_type", $"lag",
            date_add($"d", $"lag".cast("int")).as("d2"), $"xa")
        val pairs = shifted.join(
          filled.select($"event_type", $"d".as("d2"), $"x".as("xb")),
          Seq("event_type", "d2"))
        pairs.groupBy($"event_type", $"lag")
          .agg(count(lit(1)).as("n_pairs"),
            sum($"xa").as("sa"), sum($"xb").as("sb"),
            sum($"xa" * $"xb").as("sab"),
            sum($"xa" * $"xa").as("saa"),
            sum($"xb" * $"xb").as("sbb"))
          .select($"event_type", $"lag".cast("int").as("lag"), $"n_pairs",
            round(
              (($"n_pairs" * $"sab" - $"sa" * $"sb").cast("double") /
                (sqrt(($"n_pairs" * $"saa" - $"sa" * $"sa").cast("double")) *
                  sqrt(($"n_pairs" * $"sbb" - $"sb" * $"sb").cast("double")))),
              9).as("acf"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY))::DATE AS d
        |  FROM (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1
        |    FROM daily GROUP BY 1)),
        |filled AS (
        |  SELECT spine.event_type, spine.d, COALESCE(daily.x, 0) AS x
        |  FROM spine LEFT JOIN daily
        |    ON spine.event_type = daily.event_type AND spine.d = daily.d),
        |shifted AS (
        |  SELECT event_type, lag, d + CAST(lag AS INT) AS d2, x AS xa
        |  FROM filled, (SELECT unnest(generate_series(1, 7)) AS lag)),
        |pairs AS (
        |  SELECT s.event_type, s.lag, s.xa, f.x AS xb
        |  FROM shifted s JOIN filled f
        |    ON s.event_type = f.event_type AND s.d2 = f.d),
        |sums AS (
        |  SELECT event_type, lag, COUNT(*) AS n,
        |    CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
        |    CAST(SUM(xa * xb) AS BIGINT) AS sab,
        |    CAST(SUM(xa * xa) AS BIGINT) AS saa,
        |    CAST(SUM(xb * xb) AS BIGINT) AS sbb
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS INT) AS lag,
        |  CAST(n AS BIGINT) AS n_pairs,
        |  ROUND(CAST(n * sab - sa * sb AS DOUBLE) /
        |    (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
        |     sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 9) AS acf
        |FROM sums""".stripMargin)),

    // ── Grid DBSCAN — density-based clustering of the embedding plane
    //    done the way it distributes: snap points to a 512×512 grid
    //    (ONE keyed count), core cells = count ≥ ceil(n/512) (the
    //    data-derived minPts, deterministic in both engines), connect
    //    core cells through their 8-neighborhood via a 9-offset explode
    //    + EXACT (gx,gy) equi-join (q201's pattern — never a range
    //    join), and min-label-propagate over the core-cell graph with
    //    POINTER JUMPING — each round is one neighbor-min then one
    //    lab(lab(c)) self-join, so propagation distance roughly doubles
    //    per round and 12 rounds cover any plausible core-graph
    //    diameter; a 13th round must be a no-op (fail-loud check), and
    //    the oracle's identically-unrolled rounds are no-ops past the
    //    fixpoint. Everything after the first count is CELL-sized, not
    //    point-sized — the property that makes density clustering
    //    feasible at 100 TB where point-pair DBSCAN cannot run.
    //    Output: one row per cluster (id = min cell key), cell and
    //    point masses. Non-core cells are noise by definition.
    QueryDef(
      "q230_grid_dbscan",
      (s, dir) => {
        import s.implicits._
        def snap(dim: Int) = expr(
          s"CAST(least(511, greatest(0, (CAST(floor(CAST(element_at(" +
            s"embedding, $dim) AS DOUBLE) * 1e6) AS BIGINT) + 8388608)" +
            s" div 32768)) AS BIGINT)")
        val cells = Tables.embeddings(s, dir)
          .select(snap(1).as("gx"), snap(2).as("gy"))
          .groupBy($"gx", $"gy").agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val thr = cells.agg(
          expr("(sum(n) + 511) div 512").as("t"))
        val core = cells.crossJoin(broadcast(thr))
          .where($"n" >= $"t")
          .select($"gx", $"gy", ($"gx" * 512 + $"gy").as("k"), $"n")
          .localCheckpoint()
        val offsets = Seq(-1L, 0L, 1L)
          .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
          .toDF("dx", "dy")
        val edges = core.select($"gx", $"gy", $"k".as("cell"))
          .crossJoin(broadcast(offsets))
          .select(($"gx" + $"dx").as("gx"), ($"gy" + $"dy").as("gy"),
            $"cell")
          .join(core.select($"gx", $"gy", $"k".as("nb")), Seq("gx", "gy"))
          .select($"cell", $"nb")
          .localCheckpoint()
        // r17: the min+jump fixpoint IS min-label connected components
        // over the core-cell graph (labels only decrease; pointer
        // jumping's fixpoint = the component minimum; the (0,0) offset's
        // self-edge keeps isolated core cells present) — so the unrolled
        // loop is [[graft.ext.Dedup.connectedComponents]] by another
        // name. The core graph is BOUNDED BY CONSTRUCTION: the
        // data-derived minPts = ceil(n/512) admits at most ~512 core
        // cells, ≤ 9·512 edges, so the adaptive dispatch runs the driver
        // union-find at ANY corpus size (Round17OptSpec pins loop ≡ CC
        // on an adversarial core graph; the oracle's identically-
        // unrolled 12 rounds reach the same fixpoint — pointer jumping
        // covers diameter 2^12, and ≤512 nodes cap diameter at 511 — the
        // round bound handed to the distributed engine).
        val lab = graft.ext.Dedup.connectedComponents(edges, "cell", "nb",
            maxRounds = 512)
          .select($"id".as("cell"), $"cluster_id".as("lab"))
        lab.join(core.select($"k".as("cell"), $"n"), "cell")
          .groupBy($"lab".as("cluster_id"))
          .agg(count(lit(1)).as("n_cells"), sum($"n").as("n_points"))
      },
      Some {
        def round(r: Int) = s"""mn$r AS MATERIALIZED (
        |  SELECT e.cell, MIN(l.lab) AS lab
        |  FROM edges e JOIN lab${r - 1} l ON l.cell = e.nb
        |  GROUP BY 1),
        |lab$r AS MATERIALIZED (
        |  SELECT a.cell, b.lab FROM mn$r a JOIN mn$r b ON b.cell = a.lab)"""
        s"""WITH pts AS (
        |  SELECT
        |    least(511, greatest(0,
        |      (CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
        |        + 8388608) // 32768)) AS gx,
        |    least(511, greatest(0,
        |      (CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
        |        + 8388608) // 32768)) AS gy
        |  FROM embeddings),
        |cells AS MATERIALIZED (
        |  SELECT gx, gy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
        |thr AS (SELECT (SUM(n) + 511) // 512 AS t FROM cells),
        |core AS MATERIALIZED (
        |  SELECT gx, gy, gx * 512 + gy AS k, n
        |  FROM cells, thr WHERE n >= t),
        |offs AS (
        |  SELECT dx, dy
        |  FROM (SELECT unnest(generate_series(-1, 1)) AS dx),
        |    (SELECT unnest(generate_series(-1, 1)) AS dy)),
        |probes AS (
        |  SELECT k AS cell, gx + dx AS gx, gy + dy AS gy FROM core, offs),
        |edges AS MATERIALIZED (
        |  SELECT p.cell, b.k AS nb
        |  FROM probes p JOIN core b ON b.gx = p.gx AND b.gy = p.gy),
        |lab0 AS (SELECT k AS cell, k AS lab FROM core),
        |${(1 to DbscanRounds).map(round).mkString(",\n")}
        |SELECT l.lab AS cluster_id, COUNT(*) AS n_cells,
        |  CAST(SUM(c.n) AS BIGINT) AS n_points
        |FROM lab$DbscanRounds l JOIN core c ON c.k = l.cell
        |GROUP BY 1""".stripMargin
      }),

    // ── Watermark audit — the number that SIZES a streaming watermark
    //    before you commit to one: treat event_id as arrival order (the
    //    fixture's ingestion proxy), run the per-type high-water mark
    //    over it, and lateness = watermark − event time. Reports, per
    //    type, how many events a 2-hour watermark would drop and the
    //    max observed disorder. The per-type arrival-ordered window is
    //    the documented serial axis (at scale: per ingestion
    //    file/partition, then a tiny per-type fold — same numbers).
    //    Complements q188's inter-event gaps, which size session
    //    timeouts rather than disorder.
    QueryDef(
      "q231_watermark_audit",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select($"event_type", $"event_id", unix_micros($"ts").as("us"))
          .withColumn("late_us", max($"us").over(w) - $"us")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when($"late_us" > 7200000000L, 1L).otherwise(0L))
              .as("n_late_2h"),
            expr("max(late_us) div 1000000").as("max_late_s"))
          .withColumn("late_frac_1e9",
            expr("n_late_2h * 1000000000 div n_events"))
      },
      Some("""WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |l AS (
        |  SELECT event_type,
        |    MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
        |      AS late_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late_us > 7200000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_2h,
        |  MAX(late_us) // 1000000 AS max_late_s,
        |  CAST(SUM(CASE WHEN late_us > 7200000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000000 // COUNT(*) AS late_frac_1e9
        |FROM l GROUP BY event_type""".stripMargin)),

    // ── Decile gains/lift chart — the ranking-quality view a filter
    //    ABLATION reads (where q198's AUC is the single-number summary):
    //    rank documents by the cheap signal (n_chars, tie-broken by
    //    doc_id so the deciles are deterministic), then per decile report
    //    positive capture and lift over the base rate, both in integer
    //    fixed point (capture·1e9, lift·1e6 — the lift numerator
    //    cum_pos·N·1e6 stays far inside BIGINT at fixture scale; an
    //    exabyte corpus would lift in DECIMAL(38,0), same expressions).
    //    Everything after the 10-row decile agg is window-over-10-rows.
    //    The global NTILE rank is the q203-documented posture: cut points
    //    come from approx_percentile + broadcast at 100 TB.
    QueryDef(
      "q232_decile_lift",
      (s, dir) => {
        import s.implicits._
        val ranked = Tables.documents(s, dir)
          .select(($"lang" === "en").cast("long").as("pos"),
            $"n_chars".cast("long").as("score"), $"doc_id")
          .withColumn("decile", ntile(10).over(
            Window.orderBy($"score".desc, $"doc_id".asc)))
        ranked.groupBy($"decile")
          .agg(count(lit(1)).as("n_docs"), sum($"pos").as("n_pos"))
          .withColumn("cum_pos", sum($"n_pos").over(
            Window.orderBy($"decile")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cum_n", sum($"n_docs").over(
            Window.orderBy($"decile")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("capture_1e9",
            expr("cum_pos * 1000000000 div sum(n_pos) over ()"))
          .withColumn("lift_1e6", expr(
            "(cum_pos * sum(n_docs) over () * 1000000)"
              + " div (cum_n * sum(n_pos) over ())"))
          .select($"decile", $"n_docs", $"n_pos", $"cum_pos",
            $"capture_1e9", $"lift_1e6")
      },
      Some("""WITH d AS (
        |  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
        |    CAST(n_chars AS BIGINT) AS score, doc_id
        |  FROM documents),
        |r AS (
        |  SELECT pos,
        |    CAST(NTILE(10) OVER (ORDER BY score DESC, doc_id ASC) AS INT)
        |      AS decile
        |  FROM d),
        |per AS (
        |  SELECT decile, COUNT(*) AS n_docs,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT decile, n_docs, n_pos,
        |    CAST(SUM(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_pos,
        |    CAST(SUM(n_docs) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n,
        |    CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos,
        |    CAST(SUM(n_docs) OVER () AS BIGINT) AS tot_n
        |  FROM per)
        |SELECT decile, n_docs, n_pos, cum_pos,
        |  cum_pos * 1000000000 // tot_pos AS capture_1e9,
        |  (cum_pos * tot_n * 1000000) // (cum_n * tot_pos) AS lift_1e6
        |FROM c""".stripMargin)),

    // ── Theil–Sen robust trend (median of pairwise slopes) over the
    //    trailing 120 days of daily revenue — the outlier-immune
    //    complement of q200's OLS (one bulk-discount day can swing an
    //    OLS slope arbitrarily; it moves the slope MEDIAN by at most one
    //    rank). All pairwise work runs on the AGGREGATED daily substrate
    //    (≤120 rows → ≤7140 pairs, a constant bounded by the window
    //    choice, never by corpus size — the q263 analog of q230's grid
    //    cells). Slopes are exact-integer cent differences over exact
    //    day differences; ONE IEEE division per pair makes the sort key,
    //    identical in both engines, ties broken by (d_i, d_j); the lower
    //    median is picked by rank, no averaging. The global window ranks
    //    7140 rows — bounded, documented serial point.
    QueryDef(
      "q263_theilsen",
      (s, dir) => {
        import s.implicits._
        val daily0 = Tables.orders(s, dir)
          .select(unix_date($"o_orderdate".cast("date")).cast("long").as("d"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
          .groupBy($"d").agg(sum($"cents").as("rev"))
        val mx = daily0.agg(max($"d").as("maxd"))
        val daily = daily0.crossJoin(broadcast(mx))
          .where($"d" >= $"maxd" - 119L)
          .select($"d", $"rev")
          .localCheckpoint()
        val pairs = daily.as("a").join(daily.as("b"), $"a.d" < $"b.d")
          .select($"a.d".as("d_i"), $"b.d".as("d_j"),
            (($"b.rev" - $"a.rev").cast("double") /
              ($"b.d" - $"a.d").cast("double")).as("slope"))
        val w = Window.orderBy($"slope".asc, $"d_i".asc, $"d_j".asc)
        pairs
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over())
          .where($"rn" === expr("(cnt + 1) div 2"))
          .select($"cnt".as("n_pairs"), $"slope".as("slope_cents_per_day"),
            $"d_i", $"d_j")
      },
      Some("""WITH daily0 AS (
        |  SELECT date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(d) AS maxd FROM daily0),
        |daily AS (
        |  SELECT d, rev FROM daily0, mx WHERE d >= maxd - 119),
        |p AS (
        |  SELECT a.d AS d_i, b.d AS d_j,
        |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
        |      AS slope
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY slope ASC, d_i ASC, d_j ASC) AS rn,
        |    COUNT(*) OVER () AS cnt
        |  FROM p)
        |SELECT CAST(cnt AS BIGINT) AS n_pairs,
        |  slope AS slope_cents_per_day, d_i, d_j
        |FROM r WHERE rn = (cnt + 1) // 2""".stripMargin)),

    chi2Def,
    looDef,
    stumpDef
  )

  // ── Distributed decision-stump training (1R) — the simplest trained
  //    model as a SORT-FREE scale shape: to find the best threshold of
  //    n_chars predicting lang='en', cumulate class counts along the
  //    DISTINCT-VALUE axis (the q106 exact-median posture — the window
  //    runs over the bounded value domain, never over rows), score
  //    every candidate split by its exact integer correct-count (all
  //    candidates share denominator n, so the argmax needs NO division
  //    anywhere — rational-comparison trap avoided entirely), and pick
  //    deterministically by (correct DESC, threshold ASC). Emits the
  //    trained stump: threshold, polarity, exact train accuracy. The
  //    same shape fans out per feature for a real 1R learner; depth-d
  //    trees recurse it per partition cell.
  private def stumpDef: QueryDef = QueryDef(
    "q287_decision_stump",
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
        .select($"n_chars".as("v"),
          ($"lang" === "en").cast("long").as("pos"))
      val tot = d.agg(count(lit(1)).as("n"), sum($"pos").as("p"))
      val byV = d.groupBy($"v")
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("posv"))
      val w = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = byV
        .withColumn("cum_n", sum($"cnt").over(w))
        .withColumn("cum_p", sum($"posv").over(w))
        .crossJoin(broadcast(tot))
        // predict-pos-on-LE: cum_p + (neg above) correct; or the flip
        .withColumn("correct_le",
          $"cum_p" + (($"n" - $"cum_n") - ($"p" - $"cum_p")))
        .withColumn("correct_gt",
          ($"cum_n" - $"cum_p") + ($"p" - $"cum_p"))
        .select($"v".as("threshold"), $"n",
          greatest($"correct_le", $"correct_gt").as("correct"),
          ($"correct_le" >= $"correct_gt").as("pos_is_le"))
      scored
        .orderBy($"correct".desc, $"threshold".asc)
        .limit(1)
        .withColumn("train_acc",
          $"correct".cast("double") / $"n".cast("double"))
    },
    Some("""WITH d AS (
      |  SELECT n_chars AS v,
      |    CAST(lang = 'en' AS BIGINT) AS pos
      |  FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(pos) AS BIGINT) AS p FROM d),
      |byv AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(pos) AS BIGINT) AS posv
      |  FROM d GROUP BY 1),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(cnt) OVER (ORDER BY v ASC) AS BIGINT) AS cum_n,
      |    CAST(SUM(posv) OVER (ORDER BY v ASC) AS BIGINT) AS cum_p
      |  FROM byv),
      |sc AS (
      |  SELECT v AS threshold, n,
      |    greatest(cum_p + ((n - cum_n) - (p - cum_p)),
      |      (cum_n - cum_p) + (p - cum_p)) AS correct,
      |    cum_p + ((n - cum_n) - (p - cum_p))
      |      >= (cum_n - cum_p) + (p - cum_p) AS pos_is_le
      |  FROM cum, tot)
      |SELECT threshold, n, correct, pos_is_le,
      |  CAST(correct AS DOUBLE) / CAST(n AS DOUBLE) AS train_acc
      |FROM sc
      |ORDER BY correct DESC, threshold ASC
      |LIMIT 1""".stripMargin))

  // ── Leave-one-source-out data valuation — ablation WITHOUT retraining:
  //    because OLS normal-equation sums are ADDITIVE, the probe refit
  //    with any source removed is pure arithmetic on (total − source)
  //    sums — one corpus pass builds per-source moment partials, and
  //    every ablated slope is closed-form. The probe regresses stopword
  //    count on token count (the style probe: which source bends the
  //    corpus-wide stopword rate). All moments exact BIGINT; the two
  //    slopes per row are identical IEEE divisions; delta floors to 1e9
  //    fixed point. At extreme scale the moment sums graduate to
  //    DECIMAL(38) — the shape (per-key partials + subtract-from-total)
  //    is unchanged. This is the q200 normal-equation posture promoted
  //    to the influence/valuation question every curation team asks:
  //    "what does dropping source S do to the fit?"
  private def looDef: QueryDef = QueryDef(
    "q281_loo_source_value",
    (s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      val d = Tables.documents(s, dir).select($"source",
        size(toks).cast("long").as("x"),
        size(org.apache.spark.sql.functions.filter(toks,
          t => t.isin(TextAnalysis.stopwords: _*))).cast("long").as("y"))
      val per = d.groupBy($"source").agg(count(lit(1)).as("n_s"),
        sum($"x").as("sx_s"), sum($"y").as("sy_s"),
        sum($"x" * $"x").as("sxx_s"), sum($"x" * $"y").as("sxy_s"))
      val tot = per.agg(sum($"n_s").as("n"), sum($"sx_s").as("sx"),
        sum($"sy_s").as("sy"), sum($"sxx_s").as("sxx"),
        sum($"sxy_s").as("sxy"))
      per.crossJoin(broadcast(tot))
        .select($"source", $"n_s",
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
            .as("slope_full"),
          ((($"n" - $"n_s") * ($"sxy" - $"sxy_s") -
            ($"sx" - $"sx_s") * ($"sy" - $"sy_s")).cast("double") /
            (($"n" - $"n_s") * ($"sxx" - $"sxx_s") -
              ($"sx" - $"sx_s") * ($"sx" - $"sx_s")).cast("double"))
            .as("slope_loo"))
        .withColumn("delta_1e9",
          floor(($"slope_loo" - $"slope_full") * lit(1e9)).cast("long"))
    },
    Some {
      val stoplist = TextAnalysis.stopwords
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
      |  SELECT source,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(lower(trim(text)), '\\s+') END
      |      AS toks
      |  FROM documents),
      |d AS (
      |  SELECT source, CAST(len(toks) AS BIGINT) AS x,
      |    CAST(len(list_filter(toks, tk -> list_contains($stoplist, tk)))
      |      AS BIGINT) AS y
      |  FROM t),
      |per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
      |    CAST(SUM(x) AS BIGINT) AS sx_s, CAST(SUM(y) AS BIGINT) AS sy_s,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx_s,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy_s
      |  FROM d GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n_s) AS BIGINT) AS n,
      |    CAST(SUM(sx_s) AS BIGINT) AS sx, CAST(SUM(sy_s) AS BIGINT) AS sy,
      |    CAST(SUM(sxx_s) AS BIGINT) AS sxx,
      |    CAST(SUM(sxy_s) AS BIGINT) AS sxy
      |  FROM per)
      |SELECT source, n_s,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_full,
      |  CAST((n - n_s) * (sxy - sxy_s) - (sx - sx_s) * (sy - sy_s)
      |      AS DOUBLE)
      |    / CAST((n - n_s) * (sxx - sxx_s) - (sx - sx_s) * (sx - sx_s)
      |      AS DOUBLE) AS slope_loo,
      |  CAST(floor((CAST((n - n_s) * (sxy - sxy_s)
      |        - (sx - sx_s) * (sy - sy_s) AS DOUBLE)
      |      / CAST((n - n_s) * (sxx - sxx_s) - (sx - sx_s) * (sx - sx_s)
      |        AS DOUBLE)
      |    - CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e9) AS BIGINT)
      |    AS delta_1e9
      |FROM per, tot""".stripMargin
    })

  // ── Pearson chi-squared independence test: is event_type independent
  //    of day-of-week? The contingency table comes from ONE keyed agg;
  //    the full R×C grid (including ZERO cells, which a plain groupBy
  //    would drop and which contribute E to the statistic) is the cross
  //    join of the two marginal vectors — both already aggregated to
  //    ≤|types| and 7 rows, so the "cross join" is dim × dim, never
  //    fact-sized. Per-cell math runs in doubles with the IDENTICAL
  //    expression tree in both engines, then floors to 1e6 fixed point
  //    BEFORE the final sum — so the only cross-engine-sensitive step
  //    (float summation order) never happens; the sum is over integers.
  //    Weekday via epoch-day arithmetic (the q252 trap). Scale: one
  //    events scan, two tiny rollups, grid ≤ R·C rows.
  private def chi2Def: QueryDef = QueryDef(
    "q274_chi2_independence",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"event_type",
        expr("(datediff(CAST(ts AS DATE), DATE '1970-01-01') + 3) % 7 + 1")
          .as("dow"))
      val obs = ev.groupBy($"event_type", $"dow")
        .agg(count(lit(1)).as("o"))
      val rows = obs.groupBy($"event_type").agg(sum($"o").as("r"))
      val cols = obs.groupBy($"dow").agg(sum($"o").as("c"))
      val tot = obs.agg(sum($"o").as("n"))
      rows.crossJoin(broadcast(cols))
        .join(obs, Seq("event_type", "dow"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .withColumn("e", expr("CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("cell_1e6", expr(
          "CAST(floor(((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)" +
            " / e) * 1000000.0) AS BIGINT)"))
        .agg(count(lit(1)).as("n_cells"),
          ((countDistinct($"event_type") - 1) *
            (countDistinct($"dow") - 1)).as("dof"),
          sum($"cell_1e6").as("chi2_1e6"))
    },
    Some("""WITH ev AS (
      |  SELECT event_type,
      |    (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3)
      |      % 7 + 1 AS dow
      |  FROM events),
      |obs AS (
      |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM ev GROUP BY 1, 2),
      |rws AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
      |  FROM obs GROUP BY 1),
      |cls AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
      |grid AS (
      |  SELECT rws.event_type, cls.dow, rws.r, cls.c,
      |    COALESCE(obs.o, 0) AS o, tot.n,
      |    CAST(rws.r * cls.c AS DOUBLE) / CAST(tot.n AS DOUBLE) AS e
      |  FROM rws CROSS JOIN cls
      |  LEFT JOIN obs ON obs.event_type = rws.event_type
      |    AND obs.dow = cls.dow, tot),
      |cells AS (
      |  SELECT *,
      |    CAST(floor(((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
      |      / e) * 1000000.0) AS BIGINT) AS cell_1e6
      |  FROM grid)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1)
      |    AS dof,
      |  CAST(SUM(cell_1e6) AS BIGINT) AS chi2_1e6
      |FROM cells""".stripMargin))

  /** Fixed min+jump round count for q230's core-cell label propagation
    * (and the oracle's unrolled depth — post-fixpoint rounds are no-ops;
    * pointer jumping roughly doubles reach per round, so 12 rounds cover
    * diameters far beyond any observed core graph, and the Spark side
    * fail-louds if a 13th round would still change a label). */
  val DbscanRounds = 12
}
