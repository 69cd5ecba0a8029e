package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics extensions beyond the reference's surface: rollup hierarchies,
  * gap-based sessionization, and an as-of join composed from windows
  * (preference (a) of the custom-operator ladder — no custom plan node
  * needed, and the composition shuffles once on the natural key).
  */
object AnalyticsQueries {

  def defs: Seq[QueryDef] = Seq(

    // ── ROLLUP hierarchy totals (region→nation subtotals + grand total).
    //    GROUPING() disambiguates subtotal rows; decimal sums keep the
    //    compare exact. One shuffle; rollup expands group sets map-side.
    QueryDef(
      "q25_rollup",
      (s, dir) => {
        import s.implicits._
        Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
          .rollup($"r_name", $"n_name")
          .agg(
            dsum($"c_acctbal").as("total_acctbal"),
            count(lit(1)).as("n_customers"),
            grouping($"r_name").as("g_region"),
            grouping($"n_name").as("g_nation"))
      },
      Some(s"""SELECT r_name, n_name,
        |${dsumSql("c_acctbal")} AS total_acctbal,
        |COUNT(*) AS n_customers,
        |CAST(GROUPING(r_name) AS TINYINT) AS g_region,
        |CAST(GROUPING(n_name) AS TINYINT) AS g_nation
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)),

    // ── Gap-based sessionization: a new session starts when a user is idle
    //    > 30 minutes. lag + conditional flag + running sum = session id —
    //    the standard scale shape: one shuffle on user_id, windows stay
    //    inside each user partition.
    QueryDef(
      "q26_sessionize",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val flagged = Tables.events(s, dir)
          .select($"user_id", $"event_id", $"ts", $"value")
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .withColumn("new_session",
            when($"prev_ts".isNull ||
              unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_no",
            sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        flagged
          .groupBy($"user_id", $"session_no")
          .agg(
            count(lit(1)).as("n_events"),
            min($"ts").as("session_start"),
            max($"ts").as("session_end"),
            dsum($"value").as("session_value"))
          .withColumn("duration_s",
            unix_timestamp($"session_end") - unix_timestamp($"session_start"))
      },
      Some(s"""WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR date_diff('second', LAG(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  ${dsumSql("value")} AS session_value,
        |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
        |FROM sess GROUP BY 1, 2""".stripMargin)),

    // ── Ranking family: dense_rank / ntile / lead over per-customer order
    //    history (the window functions the reference never needed but any
    //    analytics engine must own). Key-partitioned — fully parallel.
    QueryDef(
      "q28_ranking",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        Tables.orders(s, dir)
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
            dense_rank().over(w).as("order_seq"),
            ntile(4).over(w).as("quartile"),
            datediff(
              to_date(lead($"o_orderdate", 1).over(w)),
              to_date($"o_orderdate")).as("days_to_next"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |CAST(DENSE_RANK() OVER w AS INT) AS order_seq,
        |CAST(NTILE(4) OVER w AS INT) AS quartile,
        |CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |  CAST(LEAD(o_orderdate, 1) OVER w AS DATE)) AS INT) AS days_to_next
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // ── As-of join by composition: for each purchase, the most recent
    //    PRIOR click of the same user. Union-tag + last_value(ignoreNulls)
    //    over an ordered per-user window — one shuffle on user_id, no
    //    custom plan node (SURVEY.md §7.3 ladder, option (a)).
    QueryDef(
      "q27_asof_join",
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
          .where($"event_type".isin("click", "purchase"))
          .select($"user_id", $"event_id", $"ts", $"event_type")
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("last_click_ts",
            last(when($"event_type" === "click", $"ts"), ignoreNulls = true).over(w))
          .where($"event_type" === "purchase")
          .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"),
            $"last_click_ts",
            (unix_timestamp($"ts") - unix_timestamp($"last_click_ts"))
              .as("seconds_since_click"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |tagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click_ts
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |  last_click_ts,
        |  CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
        |    AS seconds_since_click
        |FROM tagged WHERE event_type = 'purchase'""".stripMargin)),

    // ── CUBE multi-dimensional profiling: every (source × lang) combination
    //    plus both marginals and the grand total in ONE pass — group-set
    //    expansion happens map-side before a single shuffle. Rolled-up
    //    dimensions surface as '<all>' (the fixture columns are never null,
    //    so the sentinel is unambiguous and avoids cross-engine
    //    GROUPING_ID bit-order differences).
    QueryDef(
      "q52_cube_profile",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .cube($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            dsum($"n_chars".cast("double")).as("total_chars"))
          .select(coalesce($"source", lit("<all>")).as("source"),
            coalesce($"lang", lit("<all>")).as("lang"),
            $"n_docs", $"total_chars")
      },
      Some(s"""SELECT COALESCE(source, '<all>') AS source,
        |  COALESCE(lang, '<all>') AS lang,
        |  COUNT(*) AS n_docs,
        |  ${dsumSql("CAST(n_chars AS DOUBLE)")} AS total_chars
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin)),

    // ── Explicit GROUPING SETS — the general form rollup (q25) and cube
    //    (q52) are sugar over: an arbitrary set list ((source, lang),
    //    (lang), ()) in one pass. Spark expands the sets with a single
    //    Expand node feeding one hash aggregation — one corpus scan and
    //    one shuffle regardless of how many sets, which is exactly the
    //    multi-granularity profile a curation dashboard wants at 100 TB.
    QueryDef(
      "q80_grouping_sets",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .groupingSets(
            Seq(Seq($"source", $"lang"), Seq($"lang"), Seq()),
            $"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars".cast("long")).as("total_chars"))
          .select(coalesce($"source", lit("<all>")).as("source"),
            coalesce($"lang", lit("<all>")).as("lang"),
            $"n_docs", $"total_chars")
      },
      Some("""SELECT COALESCE(source, '<all>') AS source,
        |  COALESCE(lang, '<all>') AS lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source, lang), (lang), ())""".stripMargin)),

    // ── RANGE-frame moving window: per-user rolling 1-hour event-value sum
    //    keyed on integer epoch seconds. RANGE (not ROWS) so peer rows at
    //    the same timestamp are included regardless of physical order —
    //    the only frame kind that is deterministic under shuffled input,
    //    and therefore the cross-engine-safe one.
    QueryDef(
      "q53_range_window",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"epoch_s")
          .rangeBetween(-3600L, 0L)
        Tables.events(s, dir)
          .select($"event_id", $"user_id", $"ts", $"value",
            unix_timestamp($"ts").as("epoch_s"))
          // OVER binds to the SUM; the exactness cast happens outside the
          // window (decimal sum inside the frame, ONE cast per output row)
          .withColumn("hour_sum",
            sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .over(w).cast("double"))
          .select($"event_id", $"user_id", $"epoch_s", $"hour_sum")
      },
      Some("""SELECT event_id, user_id,
        |  date_diff('second', TIMESTAMP '1970-01-01', ts) AS epoch_s,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
        |    ORDER BY date_diff('second', TIMESTAMP '1970-01-01', ts)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
        |FROM events""".stripMargin)),

    // ── The dedicated pivot operator (vs q07's manual sum-case): explicit
    //    value list so the plan is a single pass — with values declared,
    //    pivot compiles to the same one-shuffle sum-case expansion and
    //    never runs the extra distinct-values job.
    QueryDef(
      "q55_pivot_api",
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(dsum($"l_quantity"))
          .select($"l_linestatus",
            coalesce($"A", lit(0.0)).as("qty_a"),
            coalesce($"N", lit(0.0)).as("qty_n"),
            coalesce($"R", lit(0.0)).as("qty_r"))
      },
      Some(s"""SELECT l_linestatus,
        |  COALESCE(${dsumSql("CASE WHEN l_returnflag = 'A' THEN l_quantity END")}, 0.0) AS qty_a,
        |  COALESCE(${dsumSql("CASE WHEN l_returnflag = 'N' THEN l_quantity END")}, 0.0) AS qty_n,
        |  COALESCE(${dsumSql("CASE WHEN l_returnflag = 'R' THEN l_quantity END")}, 0.0) AS qty_r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin)),

    // ── Weekly cohort retention — the product-analytics staple: users are
    //    grouped by the week they first appear (their cohort), and each
    //    (cohort, week-offset) cell counts the distinct users still active
    //    that many weeks later; retention = cell / cohort size. Both
    //    engines truncate to Monday weeks (`date_trunc('week', ts)`), and
    //    the offset is exact integer day arithmetic (always a multiple of
    //    7 between week starts). Scale shape: one (user, week) distinct
    //    over the event stream (the only corpus-sized shuffle), a per-user
    //    min, and bounded (cohort × offset) aggregates; the distinct-user
    //    counts are Spark's standard two-phase exact distinct.
    QueryDef(
      "q87_retention",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
          .distinct()
        val firstWk = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
        val cohortN = firstWk.groupBy($"cohort_wk")
          .agg(count(lit(1)).as("cohort_n"))
        ev.join(firstWk, "user_id")
          .select($"cohort_wk",
            (datediff($"wk", $"cohort_wk") / 7).cast("int").as("week_offset"),
            $"user_id")
          .groupBy($"cohort_wk", $"week_offset")
          .agg(countDistinct($"user_id").as("n_users"))
          .join(broadcast(cohortN), "cohort_wk")
          .select($"cohort_wk", $"week_offset", $"n_users", $"cohort_n",
            round($"n_users".cast("double") / $"cohort_n".cast("double"), 9)
              .as("retention"))
      },
      Some("""WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
        |cs AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_n
        |  FROM fw GROUP BY 1),
        |act AS (
        |  SELECT f.cohort_wk, CAST((e.wk - f.cohort_wk) // 7 AS INT) AS week_offset,
        |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |  FROM ev e JOIN fw f USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_wk, a.week_offset, a.n_users, cs.cohort_n,
        |  ROUND(CAST(a.n_users AS DOUBLE) / CAST(cs.cohort_n AS DOUBLE), 9)
        |    AS retention
        |FROM act a JOIN cs USING (cohort_wk)""".stripMargin)),

    // ── SQL front-door parity: ONE ANSI SQL string executed verbatim by
    //    BOTH engines — Spark runs it through `Tables.registerAll` +
    //    `spark.sql(...)` (the temp-view catalog every fixture table is
    //    registered into), DuckDB runs the identical text as the oracle.
    //    Pins that the engine's SQL surface is genuinely usable, not just
    //    the DataFrame API: a 4-table star join + filtered revenue rollup
    //    in the dialect-neutral subset (explicit JOIN ... ON, CAST, the
    //    decimal-sum-cast-double exact aggregate). Catalyst plans it like
    //    any DataFrame query: dimension broadcasts, partial aggs, pruned
    //    scans.
    QueryDef(
      "q89_sql_report",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        s.sql(AnalyticsQueries.SqlReportText)
      },
      Some(AnalyticsQueries.SqlReportText)),

    // ── LATERAL correlated subquery through the SQL front door — q89's
    //    one-text-both-engines posture for the per-group-top-N idiom
    //    ("for each nation, that nation's 3 highest-value orders"). The
    //    interesting part is the PLAN: Catalyst DECORRELATES the
    //    correlated LIMIT subquery into a window rank over the join and
    //    then pushes a WindowGroupLimit bounded heap below the shuffle —
    //    the naive per-outer-row re-execution (nations × full orders
    //    scan) never exists. At 100 TB the lateral is therefore one
    //    keyed join + one group-limit, identical to the hand-written
    //    q254 shape; PlanShapeSpec pins the WindowGroupLimit and the
    //    absence of any cartesian. Ordering is total (price DESC, key
    //    ASC), so LIMIT ties cannot diverge across engines; o_totalprice
    //    is compared as stored (no arithmetic).
    QueryDef(
      "q304_lateral_topk",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        s.sql(AnalyticsQueries.LateralTopkText)
      },
      Some(AnalyticsQueries.LateralTopkText)),

    // ── RECURSIVE CTE through the SQL front door (Spark 4 WITH
    //    RECURSIVE): the date-spine + left-join scaffold (q09's J4
    //    pattern) stated as ONE dialect-neutral recursive query both
    //    engines execute verbatim. The recursion generates a 91-day
    //    spine (bounded, driver-side-free — each step is a plan
    //    iteration, not a collect), then a keyed LEFT JOIN lands the
    //    daily order counts with zero-filled gaps. Recursion depth is
    //    bounded by the date window (91 < Spark's recursion-level
    //    limit); the scaffold never touches the fact table inside the
    //    recursive arm — growth is O(days), the rollup is one keyed agg.
    QueryDef(
      "q305_recursive_spine",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        s.sql(AnalyticsQueries.RecursiveSpineText)
      },
      Some(AnalyticsQueries.RecursiveSpineText)),

    // ── Winsorized robust statistics per event type: exact p05/p95
    //    thresholds (rounded at 1e-6, the q29 cross-engine percentile
    //    posture), clip counts, and the floor-fixed-point means of the raw
    //    and clipped values ([[graft.QueryDef.tavg]] — order-independent
    //    integer sums). The outlier-resistant aggregate a metrics pipeline
    //    publishes when a handful of bad rows would poison plain means.
    //    Scale shape: exact `percentile` buffers per group (groups are few
    //    and bounded here); the 100 TB path swaps in approx_percentile
    //    (mergeable t-digest, q68's sketch posture) with no other change;
    //    thresholds broadcast back onto one partial-agg'd scan.
    QueryDef(
      "q90_winsorize",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir).select($"event_type", $"value")
        val th = ev.groupBy($"event_type").agg(
          expr("round(percentile(value, 0.05), 6)").as("t_lo"),
          expr("round(percentile(value, 0.95), 6)").as("t_hi"))
        ev.join(broadcast(th), "event_type")
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(when($"value" < $"t_lo", 1L).otherwise(0L)).as("n_clip_lo"),
            sum(when($"value" > $"t_hi", 1L).otherwise(0L)).as("n_clip_hi"),
            min($"t_lo").as("t_lo"),
            min($"t_hi").as("t_hi"),
            QueryDef.tavg($"value").as("mean_raw"),
            QueryDef.tavg(least(greatest($"value", $"t_lo"), $"t_hi"))
              .as("mean_winsor"))
      },
      Some(s"""WITH th AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS t_lo,
        |    round(quantile_cont(value, 0.95), 6) AS t_hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN value < t_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(CASE WHEN value > t_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  MIN(t_lo) AS t_lo, MIN(t_hi) AS t_hi,
        |  ${QueryDef.tavgSql("value")} AS mean_raw,
        |  ${QueryDef.tavgSql("least(greatest(value, t_lo), t_hi)")} AS mean_winsor
        |FROM events e JOIN th USING (event_type)
        |GROUP BY e.event_type""".stripMargin)),

    funnelDef,
    rangeJoinDef,
    madDef,
    markovDef,
    bucketedJoinDef,
    rateSpikeDef,
    bloomSemiJoinDef,
    sessionPathsDef,
    recencyValueDef,
    fkAuditDef,
    propsProfileDef,
    partitionPruneDef,
    scd2LookupDef,
    attributionDef,
    joinSkewDef,
    joinCardDef,
    eventDebounceDef,
    rfmDef,
    marketShareDef,
    lateOrderPriorityDef,
    topBrandDef,
    interOrderGapDef,
    wilsonScorecardDef,
    joinEstimateDef,
    dowProfileDef,
    rollingHllDef,
    smallQtyRevenueDef,
    custDistDef,
    coPurchaseDef,
    shipPriorityDef,
    nationVolumeDef,
    returnedItemDef,
    productProfitDef,
    largeOrdersDef,
    disjunctiveRevenueDef,
    forecastRevenueDef,
    cupedDef,
    dppDef,
    ringsDef,
    healthDef,
    contributionDef,
    discountResponseDef,
    prefixSumDef,
    partsuppMinCostDef,
    partsuppValueShareDef,
    partsuppSupplierCntDef,
    partsuppSemiChainDef,
    dormantCustomerDef,
    topSupplierDef,
    volumeShippingDef,
    promoRevenueDef,
    shipmodePriorityDef,
    waitingSupplierDef,
    forecastDiscountDef,
    skewKillDef
  )

  // ── Day-of-week order seasonality — volume and exact-decimal revenue
  //    per weekday. The weekday comes from EPOCH-DAY ARITHMETIC
  //    ((days since 1970-01-01 + 3) % 7 + 1 → ISO Monday=1), NOT the
  //    engines' dayofweek functions, which disagree on numbering
  //    (Spark: Sunday=1; DuckDB: Sunday=0) — the cross-engine-function
  //    trap stated as a gate. One scan, 7-row rollup.
  private def dowProfileDef: QueryDef = QueryDef(
    "q252_dow_profile",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select(
          expr("(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            + " + 3) % 7 + 1").as("dow_iso"),
          $"o_totalprice")
        .groupBy($"dow_iso")
        .agg(count(lit(1)).as("n_orders"),
          QueryDef.dsum($"o_totalprice").as("revenue"))
        .withColumn("avg_order_value",
          $"revenue" / $"n_orders".cast("double"))
    },
    Some(s"""SELECT
      |  CAST((date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) + 3) % 7 + 1 AS INT) AS dow_iso,
      |  COUNT(*) AS n_orders,
      |  ${QueryDef.dsumSql("o_totalprice")} AS revenue,
      |  ${QueryDef.dsumSql("o_totalprice")}
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_order_value
      |FROM orders GROUP BY 1""".stripMargin))

  // ── Supplier scorecard ranked by the WILSON LOWER BOUND of the
  //    late-shipment rate — the small-sample-honest ranking: a supplier
  //    with 1/2 late lines must not outrank one with 40/100. z = 1.96
  //    enters both plans as the same literal; everything else is
  //    +, ×, /, sqrt on exact integer inputs — all IEEE correctly-
  //    rounded, so both engines compute the identical double before
  //    the final ROUND(9). One fact pass, one ≤|suppliers| rollup.
  private def wilsonScorecardDef: QueryDef = QueryDef(
    "q246_wilson_scorecard",
    (s, dir) => {
      import s.implicits._
      val counts = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(when($"l_shipdate" > date_add($"o_orderdate", 60), 1L)
            .otherwise(0L)).as("late"))
      val scored = counts
        .withColumn("p", $"late".cast("double") / $"n".cast("double"))
        .withColumn("nn", $"n".cast("double"))
        .withColumn("wilson_lb", round(
          (($"p" + lit(1.9208) / $"nn" -
            lit(1.96) * sqrt(($"p" * (lit(1.0) - $"p") +
              lit(0.9604) / $"nn") / $"nn")) /
            (lit(1.0) + lit(3.8416) / $"nn")), 9))
      scored
        .select($"l_suppkey", $"n".as("n_lines"), $"late".as("n_late"),
          $"wilson_lb")
        .orderBy($"wilson_lb".desc, $"l_suppkey".asc)
        .limit(25)
    },
    Some("""WITH c AS (
      |  SELECT l_suppkey, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN 1 ELSE 0 END) AS BIGINT) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |w AS (
      |  SELECT l_suppkey, n, late,
      |    CAST(late AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(n AS DOUBLE) AS nn
      |  FROM c)
      |SELECT l_suppkey, n AS n_lines, late AS n_late,
      |  ROUND((p + 1.9208 / nn
      |    - 1.96 * sqrt((p * (1.0 - p) + 0.9604 / nn) / nn))
      |    / (1.0 + 3.8416 / nn), 9) AS wilson_lb
      |FROM w
      |ORDER BY wilson_lb DESC, l_suppkey ASC LIMIT 25""".stripMargin))

  // ── The engine predicting its own join — histogram-based cardinality
  //    estimation checked against ground truth: bin the join key
  //    (integer range buckets), collect per-bin row and distinct-key
  //    counts on BOTH sides (one agg each), apply the textbook
  //    containment assumption est_k = rows_a·rows_b / max(keys_a,
  //    keys_b) per bin, and emit the estimate beside the TRUE join
  //    count. The q243 bin structure doing the job it exists for; at
  //    100 TB these are exactly the per-partition column stats a
  //    cost-based optimizer keeps.
  private def joinEstimateDef: QueryDef = QueryDef(
    "q247_join_estimate",
    (s, dir) => {
      import s.implicits._
      def side(df: org.apache.spark.sql.DataFrame, key: String) = df
        .select(expr(s"$key div 1024").as("bin"), col(key).as("k"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("rows"), countDistinct($"k").as("keys"))
      val a = side(Tables.orders(s, dir), "o_orderkey")
      val b = side(Tables.lineitem(s, dir), "l_orderkey")
      val est = a.select($"bin", $"rows".as("ra"), $"keys".as("ka"))
        .join(b.select($"bin", $"rows".as("rb"), $"keys".as("kb")),
          "bin")
        .agg(sum(expr("ra * rb div greatest(ka, kb)")).as("est_rows"),
          count(lit(1)).as("n_bins"))
      val truth = Tables.orders(s, dir).select($"o_orderkey")
        .join(Tables.lineitem(s, dir).select($"l_orderkey"),
          $"o_orderkey" === $"l_orderkey")
        .agg(count(lit(1)).as("true_rows"))
      est.crossJoin(truth)
        .select($"n_bins", $"est_rows", $"true_rows",
          expr("abs(est_rows - true_rows) * 1000000000 div true_rows")
            .as("rel_err_1e9"))
    },
    Some("""WITH a AS (
      |  SELECT o_orderkey // 1024 AS bin, COUNT(*) AS ra,
      |    COUNT(DISTINCT o_orderkey) AS ka
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT l_orderkey // 1024 AS bin, COUNT(*) AS rb,
      |    COUNT(DISTINCT l_orderkey) AS kb
      |  FROM lineitem GROUP BY 1),
      |e AS (
      |  SELECT COUNT(*) AS n_bins,
      |    CAST(SUM(ra * rb // greatest(ka, kb)) AS BIGINT) AS est_rows
      |  FROM a JOIN b USING (bin)),
      |t AS (
      |  SELECT COUNT(*) AS true_rows
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT e.n_bins, e.est_rows, t.true_rows,
      |  abs(e.est_rows - t.true_rows) * 1000000000 // t.true_rows
      |    AS rel_err_1e9
      |FROM e, t""".stripMargin))

  // ── Per-group argmax over a join — each customer's top part brand by
  //    lifetime spend: fact ⋈ orders keyed, part dim broadcast, exact-
  //    decimal spend rollup, then ONE keyed window that Spark compiles
  //    to WindowGroupLimit (rank-1 rows never materialize the full
  //    sort). Ties break by brand name so the argmax is deterministic.
  //    The "favorite X per Y" shape every personalization query takes.
  private def topBrandDef: QueryDef = QueryDef(
    "q244_top_brand",
    (s, dir) => {
      import s.implicits._
      val spend = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.part(s, dir)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"o_custkey", $"p_brand")
        .agg(QueryDef.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("spend"))
      spend
        .withColumn("rn", row_number().over(
          Window.partitionBy($"o_custkey")
            .orderBy($"spend".desc, $"p_brand".asc)))
        .where($"rn" === 1)
        .select($"o_custkey", $"p_brand".as("top_brand"), $"spend")
    },
    Some(s"""WITH spend AS (
      |  SELECT o_custkey, p_brand,
      |    ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |      AS spend
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT o_custkey, p_brand, spend,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY spend DESC, p_brand ASC) AS rn
      |  FROM spend)
      |SELECT o_custkey, p_brand AS top_brand, spend
      |FROM r WHERE rn = 1""".stripMargin))

  // ── Inter-order gap profile per market segment — the CRM cadence
  //    metric: per-customer consecutive-order gaps (one keyed LAG over
  //    the per-customer order history), then per segment an EXACT
  //    median gap via the q226 histogram-crossing selection (the gap
  //    value domain is bounded by the calendar, so the cumulative
  //    window runs over distinct gap lengths, never orders) plus an
  //    exact-integer mean. Sizes reorder-reminder campaigns and churn
  //    cutoffs from measured cadence.
  private def interOrderGapDef: QueryDef = QueryDef(
    "q245_interorder_gap",
    (s, dir) => {
      import s.implicits._
      val gaps = Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderkey")
        .withColumn("prev", lag($"o_orderdate", 1).over(
          Window.partitionBy($"o_custkey")
            .orderBy($"o_orderdate".asc, $"o_orderkey".asc)))
        .where($"prev".isNotNull)
        .select($"o_custkey",
          datediff($"o_orderdate", $"prev").cast("long").as("gap"))
        .join(broadcast(Tables.customer(s, dir)
          .select($"c_custkey".as("o_custkey"), $"c_mktsegment")),
          "o_custkey")
        .localCheckpoint()
      val counts = gaps.groupBy($"c_mktsegment", $"gap".as("v"))
        .agg(count(lit(1)).as("c"))
      val tot = counts.groupBy($"c_mktsegment").agg(sum($"c").as("n"))
      val cum = counts
        .withColumn("cum", sum($"c").over(
          Window.partitionBy($"c_mktsegment").orderBy($"v")))
        .join(tot, "c_mktsegment")
      val v1 = cum.where($"cum" >= expr("(n + 1) div 2"))
        .groupBy($"c_mktsegment").agg(min($"v").as("v1"))
      val v2 = cum.where($"cum" >= expr("n div 2 + 1"))
        .groupBy($"c_mktsegment").agg(min($"v").as("v2"))
      val mean = gaps.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"), sum($"gap").as("sg"))
      mean.join(v1, "c_mktsegment").join(v2, "c_mktsegment")
        .select($"c_mktsegment", $"n_gaps",
          (($"v1" + $"v2").cast("double") / 2.0).as("median_gap_days"),
          ($"sg".cast("double") / $"n_gaps".cast("double"))
            .as("mean_gap_days"))
    },
    Some("""WITH g AS (
      |  SELECT o_custkey,
      |    date_diff('day', LAG(o_orderdate) OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_orderdate ASC, o_orderkey ASC),
      |      o_orderdate) AS gap
      |  FROM orders),
      |seg AS (
      |  SELECT c.c_mktsegment, CAST(g.gap AS BIGINT) AS gap
      |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
      |  WHERE g.gap IS NOT NULL)
      |SELECT c_mktsegment, COUNT(*) AS n_gaps,
      |  median(gap) AS median_gap_days,
      |  CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_gap_days
      |FROM seg GROUP BY c_mktsegment""".stripMargin))

  // ── TPC-H Q8 shape — national market share inside a region: the
  //    deepest star join in the suite (lineitem ⋈ part ⋈ orders ⋈
  //    customer ⋈ nation ⋈ region ⋈ supplier ⋈ nation again), every
  //    dimension broadcast, the fact table scanned once with the part
  //    filter pushed into the build side. Share = conditional exact-
  //    decimal volume over total volume, one double division per year.
  private def marketShareDef: QueryDef = QueryDef(
    "q240_market_share",
    (s, dir) => {
      import s.implicits._
      val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      val nat = Tables.nation(s, dir)
      val shared = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .where($"p_type" === "STANDARD").select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
        .join(Tables.orders(s, dir)
          .where($"o_orderdate".between("1996-01-01", "1999-12-31"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, dir)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(nat
          .select($"n_nationkey", $"n_regionkey")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)
          .where($"r_name" === "ASIA").select($"r_regionkey")),
          $"n_regionkey" === $"r_regionkey")
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
          $"n_name".as("supp_nation"))),
          $"s_nationkey" === $"sn_key")
      shared
        .select(year($"o_orderdate").as("o_year"),
          vol.as("v"), $"supp_nation")
        .groupBy($"o_year")
        .agg(
          QueryDef.dsum(when($"supp_nation" === "NATION_3", $"v")
            .otherwise(lit(0.0))).as("nation_volume"),
          QueryDef.dsum($"v").as("total_volume"))
        .withColumn("mkt_share", $"nation_volume" / $"total_volume")
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  ${QueryDef.dsumSql(
           "CASE WHEN sn.n_name = 'NATION_3' " +
             "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
      |    AS nation_volume,
      |  ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |    AS total_volume,
      |  ${QueryDef.dsumSql(
           "CASE WHEN sn.n_name = 'NATION_3' " +
             "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
      |    / ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |    AS mkt_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
      |JOIN orders ON l_orderkey = o_orderkey
      |  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1999-12-31'
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |GROUP BY 1""".stripMargin))

  // ── TPC-H Q4 shape — order-priority accounting of LATE orders: one
  //    quarter of orders, EXISTS-style left-semi join onto lineitems
  //    that shipped more than 60 days after the order date (keyed on
  //    orderkey, the date predicate is the residual condition), then a
  //    ≤5-row priority rollup. The decorrelated-EXISTS pattern q177
  //    exercises through spark.sql, stated here with the DataFrame API.
  private def lateOrderPriorityDef: QueryDef = QueryDef(
    "q241_late_order_priority",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .where($"o_orderdate".between("1997-01-01", "1997-03-31"))
        .join(Tables.lineitem(s, dir)
          .select($"l_orderkey", $"l_shipdate"),
          $"l_orderkey" === $"o_orderkey" &&
            $"l_shipdate" > date_add($"o_orderdate", 60),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin))

  // ── RFM customer segmentation — the classic retention/marketing cube:
  //    recency (days since last order), frequency (order count), monetary
  //    (lifetime cents, exact BIGINT) per customer, each scored into
  //    quintiles by NTILE over a TOTALLY ordered axis (metric, custkey) —
  //    the tie-break key makes the quintile assignment deterministic in
  //    both engines. Output is the ≤125-cell segment histogram, so
  //    everything after the per-customer rollup is distribution-sized.
  //    The three global NTILE windows run over one row per customer
  //    (post-agg); at 100 TB the cut points would come from
  //    approx_percentile and a broadcast join, same posture as q203's
  //    documented note — the segment semantics are unchanged.
  private def rfmDef: QueryDef = QueryDef(
    "q229_rfm",
    (s, dir) => {
      import s.implicits._
      val dmax = Tables.orders(s, dir)
        .agg(max($"o_orderdate").as("dmax"))
      val cust = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("dlast"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .crossJoin(broadcast(dmax))
        .select($"o_custkey", datediff($"dmax", $"dlast").as("recency"),
          $"freq", $"cents")
      val scored = cust
        .withColumn("r", ntile(5).over(
          Window.orderBy($"recency".asc, $"o_custkey".asc)))
        .withColumn("f", ntile(5).over(
          Window.orderBy($"freq".desc, $"o_custkey".asc)))
        .withColumn("m", ntile(5).over(
          Window.orderBy($"cents".desc, $"o_custkey".asc)))
      scored
        .groupBy(($"r" * 100 + $"f" * 10 + $"m").as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum($"cents").as("total_cents"))
    },
    Some("""WITH dm AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
      |cust AS (
      |  SELECT o_custkey,
      |    date_diff('day', MAX(o_orderdate),
      |      (SELECT dmax FROM dm)) AS recency,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT o_custkey, cents,
      |    NTILE(5) OVER (ORDER BY recency ASC, o_custkey ASC) AS r,
      |    NTILE(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f,
      |    NTILE(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS m
      |  FROM cust)
      |SELECT CAST(r * 100 + f * 10 + m AS INT) AS segment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM scored GROUP BY 1""".stripMargin))

  // ── Join-skew profile for a key BEFORE joining on it: the per-key
  //    cardinality distribution of lineitem's order key (count histogram
  //    in powers of two + max/mean skew ratio + the top-5 heaviest keys).
  //    This is the decision input for salting / AQE skew handling — run
  //    it once per candidate join key, read the skew ratio, THEN pick the
  //    plan. One keyed count (map-side partials), then everything is
  //    distribution-sized: log2 buckets via integer bit length, top-5 via
  //    TakeOrderedAndProject-style limit folded into the 1-row summary.
  private def joinSkewDef: QueryDef = QueryDef(
    "q138_join_skew",
    (s, dir) => {
      import s.implicits._
      val per = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("c"))
      val hist = per
        .select(expr("cast(length(bin(c)) - 1 as int)").as("bucket_log2"), $"c")
        .groupBy($"bucket_log2")
        .agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"))
      val tot = per.agg(count(lit(1)).as("n_keys_total"),
        sum($"c").as("n_rows_total"), max($"c").as("max_c"))
      hist.crossJoin(broadcast(tot))
        .select($"bucket_log2", $"n_keys", $"n_rows",
          round($"max_c".cast("double") /
            ($"n_rows_total".cast("double") / $"n_keys_total".cast("double")), 9)
            .as("skew_ratio"))
    },
    Some("""WITH per AS (
      |  SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
      |hist AS (
      |  SELECT CAST(length(bin(c)) - 1 AS INT) AS bucket_log2,
      |    COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows
      |  FROM per GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_keys_total,
      |    CAST(SUM(c) AS BIGINT) AS n_rows_total, MAX(c) AS max_c FROM per)
      |SELECT bucket_log2, n_keys, n_rows,
      |  ROUND(CAST(max_c AS DOUBLE) /
      |    (CAST(n_rows_total AS DOUBLE) / CAST(n_keys_total AS DOUBLE)), 9)
      |    AS skew_ratio
      |FROM hist CROSS JOIN tot""".stripMargin))

  // ── Join-output cardinality estimation with measured error — the
  //    optimizer primitive q138's one-sided profile feeds: BEFORE running
  //    an all-pairs/self-join on a key, predict its output size
  //    |A⋈A on k| = Σ c(k)² from a BOUNDED sketch (top-100 heaviest keys
  //    exact + uniform-remainder assumption — the classic histogram
  //    estimate every cost-based optimizer uses), and report the exact
  //    value next to the estimate with fixed-point relative error. This
  //    is the "should q264's pair space even be attempted" number: the
  //    sketch costs one keyed count + a TakeOrderedAndProject(100), the
  //    exact Σc² rides the same count — at 100 TB you'd persist the
  //    sketch and skip the exact side, and the measured error on the
  //    fixture is the evidence for trusting it. Σc² and the remainder
  //    square run in DECIMAL(38,0)/HUGEINT (q282/q297's overflow rule —
  //    row counts are corpus-sized, their squares overflow BIGINT).
  private def joinCardDef: QueryDef = QueryDef(
    "q300_selfjoin_card",
    (s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val per = Tables.lineitem(s, dir)
        .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tot = per.agg(count(lit(1)).as("n_keys"),
        sum($"c").as("n_rows"),
        sum($"c".cast(dec) * $"c").as("exact_c2"))
      val topAgg = per.orderBy($"c".desc, $"l_partkey".asc).limit(100)
        .agg(count(lit(1)).as("top_keys"), sum($"c").as("top_rows"),
          sum($"c".cast(dec) * $"c").as("top_c2"))
      tot.crossJoin(broadcast(topAgg))
        .select($"n_keys", $"n_rows",
          expr("CAST(exact_c2 AS BIGINT)").as("exact_card"),
          expr("CAST(top_c2 + " +
            "CAST(n_rows - top_rows AS DECIMAL(38,0)) * (n_rows - top_rows)" +
            " div greatest(n_keys - top_keys, CAST(1 AS BIGINT))" +
            " AS BIGINT)").as("est_card"))
        .withColumn("err_1e9",
          expr("abs(est_card - exact_card) * 1000000000 div exact_card"))
    },
    Some("""WITH per AS (
      |  SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(c) AS BIGINT) AS n_rows,
      |    SUM(CAST(c AS HUGEINT) * c) AS exact_c2
      |  FROM per),
      |tk AS (
      |  SELECT c FROM per ORDER BY c DESC, l_partkey ASC LIMIT 100),
      |ta AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS top_keys,
      |    CAST(SUM(c) AS BIGINT) AS top_rows,
      |    SUM(CAST(c AS HUGEINT) * c) AS top_c2
      |  FROM tk),
      |m AS (
      |  SELECT n_keys, n_rows,
      |    CAST(exact_c2 AS BIGINT) AS exact_card,
      |    CAST(top_c2 +
      |      CAST(n_rows - top_rows AS HUGEINT) * (n_rows - top_rows)
      |      // greatest(n_keys - top_keys, 1) AS BIGINT) AS est_card
      |  FROM tot CROSS JOIN ta)
      |SELECT n_keys, n_rows, exact_card, est_card,
      |  abs(est_card - exact_card) * 1000000000 // exact_card AS err_1e9
      |FROM m""".stripMargin))

  // ── First/last-touch attribution: every purchase credits the user's
  //    FIRST and LAST non-purchase touch inside the preceding 24 h, and
  //    the (first, last) matrix is the report (≤ types² rows). The
  //    touch-pair join is keyed on user_id with an exact epoch-micros
  //    window predicate — per-user fan-out, never a time cross product
  //    (the unkeyed version would use q94's bins); first/last resolve by
  //    ROW_NUMBER over (touch time, event id), so ties are impossible by
  //    construction in both engines.
  private def attributionDef: QueryDef = QueryDef(
    "q133_attribution",
    (s, dir) => {
      import s.implicits._
      val dayUs = 86400000000L
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
      val purchases = ev.where($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_id"), $"us".as("p_us"))
      val touches = ev.where($"event_type" =!= "purchase")
        .select($"user_id", $"event_id".as("t_id"),
          $"event_type".as("touch_type"), $"us".as("t_us"))
      val pairs = purchases.join(touches, Seq("user_id"))
        .where($"t_us" < $"p_us" && $"t_us" >= $"p_us" - dayUs)
      val asc = Window.partitionBy($"p_id").orderBy($"t_us".asc, $"t_id".asc)
      val desc = Window.partitionBy($"p_id").orderBy($"t_us".desc, $"t_id".desc)
      val attributed = pairs
        .withColumn("rn_first", row_number().over(asc))
        .withColumn("rn_last", row_number().over(desc))
        .groupBy($"p_id")
        .agg(max(when($"rn_first" === 1, $"touch_type")).as("first_touch"),
          max(when($"rn_last" === 1, $"touch_type")).as("last_touch"))
      attributed.groupBy($"first_touch", $"last_touch")
        .agg(count(lit(1)).as("n_purchases"))
    },
    Some("""WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |p AS (SELECT user_id, event_id AS p_id, us AS p_us
      |  FROM ev WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id AS t_id, event_type AS touch_type, us AS t_us
      |  FROM ev WHERE event_type <> 'purchase'),
      |pairs AS (
      |  SELECT p.p_id, t.touch_type, t.t_us, t.t_id,
      |    ROW_NUMBER() OVER (PARTITION BY p.p_id
      |      ORDER BY t.t_us ASC, t.t_id ASC) AS rn_first,
      |    ROW_NUMBER() OVER (PARTITION BY p.p_id
      |      ORDER BY t.t_us DESC, t.t_id DESC) AS rn_last
      |  FROM p JOIN t ON p.user_id = t.user_id
      |    AND t.t_us < p.p_us AND t.t_us >= p.p_us - 86400000000),
      |att AS (
      |  SELECT p_id,
      |    MAX(CASE WHEN rn_first = 1 THEN touch_type END) AS first_touch,
      |    MAX(CASE WHEN rn_last = 1 THEN touch_type END) AS last_touch
      |  FROM pairs GROUP BY 1)
      |SELECT first_touch, last_touch, COUNT(*) AS n_purchases
      |FROM att GROUP BY 1, 2""".stripMargin))

  // ── SCD2 temporal dimension lookup: a VERSIONED user-tier dimension
  //    (weekly cumulative-spend tiers with [valid_from, valid_to)
  //    intervals, valid_to = lead(valid_from), open-ended last version)
  //    joined to the fact stream on key + interval containment — the
  //    slowly-changing-dimension pattern every warehouse join eventually
  //    needs. The dimension derives deterministically from the facts
  //    (weekly decimal sums → running total → tier thresholds), so both
  //    engines build bit-identical versions. Scale shape: the interval
  //    join is keyed on user_id and each user carries a handful of
  //    versions, so it plans as a plain keyed join + residual filter —
  //    per-key version fan-out, never a time cross product (q94's bin
  //    trick exists for the unkeyed case).
  private def scd2LookupDef: QueryDef = QueryDef(
    "q131_scd2_lookup",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"user_id", $"ts", $"value")
      val weekly = ev.groupBy($"user_id", date_trunc("week", $"ts").as("wk"))
        .agg(sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("wv"))
      val wU = Window.partitionBy($"user_id").orderBy($"wk")
      val vers = weekly
        .withColumn("cum", sum($"wv").over(wU).cast("double"))
        .withColumn("tier",
          when($"cum" < 1500.0, "bronze")
            .when($"cum" < 3000.0, "silver").otherwise("gold"))
        .select($"user_id".as("d_user"), $"wk".as("valid_from"),
          lead($"wk", 1).over(wU).as("valid_to"), $"tier")
      ev.join(vers,
          $"user_id" === $"d_user" && $"ts" >= $"valid_from" &&
            ($"valid_to".isNull || $"ts" < $"valid_to"))
        .groupBy($"tier")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          dsum($"value").as("total_value"))
    },
    Some(s"""WITH ev AS (SELECT user_id, ts, value FROM events),
      |weekly AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS wv
      |  FROM ev GROUP BY 1, 2),
      |vers AS (
      |  SELECT user_id AS d_user, wk AS valid_from,
      |    LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS valid_to,
      |    CASE WHEN CAST(SUM(wv) OVER (PARTITION BY user_id ORDER BY wk
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) < 1500.0
      |      THEN 'bronze'
      |      WHEN CAST(SUM(wv) OVER (PARTITION BY user_id ORDER BY wk
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) < 3000.0
      |      THEN 'silver' ELSE 'gold' END AS tier
      |  FROM weekly)
      |SELECT tier, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ${dsumSql("value")} AS total_value
      |FROM ev JOIN vers ON user_id = d_user AND ts >= valid_from
      |  AND (valid_to IS NULL OR ts < valid_to)
      |GROUP BY tier""".stripMargin))

  /** Once-per-session source-partitioned copy of documents (the q104
    * posture for partition layout instead of bucket layout): written
    * under the warehouse, read back through the partition-discovering
    * reader so source predicates become PartitionFilters — directory
    * pruning, zero data files of other sources touched. A durable
    * landing: registered under no bench line, the replay never re-lands it.
    */
  private val partitionedCache = new graft.SessionCaches.Memo[String, String]

  private def partitionedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    partitionedCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val path = s"$wh/graft_partitioned/docs$tag"
      Tables.documents(s, dir)
        .write.mode("overwrite").partitionBy("source").parquet(path)
      path
    })

  // ── Partition-pruning read path: documents laid out as source=…
  //    partition directories (the ingestion catalog's layout contract),
  //    then a per-source profile over TWO sources — the scan lists and
  //    reads ONLY those two directories (PartitionFilters in the plan,
  //    PlanShapeSpec pins it). At 100 TB partition pruning is the
  //    difference between touching 2/20 of the corpus and all of it —
  //    this query makes the claim checkable instead of implied. Results
  //    are bit-identical to filtering the unpartitioned table, which is
  //    what the oracle does.
  private def partitionPruneDef: QueryDef = QueryDef(
    "q130_partition_pruning",
    (s, dir) => {
      import s.implicits._
      val path = partitionedDocs(s, dir)
      s.read.parquet(path)
        .where($"source".isin("src3", "src7"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("n_chars"),
          countDistinct($"lang").as("n_langs"))
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  COUNT(DISTINCT lang) AS n_langs
      |FROM documents
      |WHERE source IN ('src3', 'src7')
      |GROUP BY source""".stripMargin))

  // ── Referential-integrity audit across the warehouse FK spine
  //    (lineitem→orders→customer): orphan counts per hop plus totals, as
  //    one row. Each hop is a LEFT ANTI join on the key (the q12 ledger-
  //    diff shape): no payload moves, partial-agg counts, and at 100 TB
  //    each anti join is a keyed shuffle AQE can turn into broadcast when
  //    the parent side's keys fit. The audit every ingestion DAG runs
  //    before promoting a batch.
  private def fkAuditDef: QueryDef = QueryDef(
    "q128_fk_audit",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir).select($"l_orderkey")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      val cust = Tables.customer(s, dir).select($"c_custkey")
      val liOrphans = li.join(ord, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("li_orphans"))
      val ordOrphans = ord.join(cust, $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("ord_orphans"))
      li.agg(count(lit(1)).as("n_lineitems"))
        .crossJoin(broadcast(ord.agg(count(lit(1)).as("n_orders"))))
        .crossJoin(broadcast(liOrphans))
        .crossJoin(broadcast(ordOrphans))
        .select($"n_lineitems", $"n_orders", $"li_orphans", $"ord_orphans",
          ($"li_orphans" === 0L && $"ord_orphans" === 0L).as("fk_clean"))
    },
    Some("""SELECT
      |  (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
      |  (SELECT COUNT(*) FROM orders) AS n_orders,
      |  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
      |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
      |    AS li_orphans,
      |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
      |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
      |    AS ord_orphans,
      |  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
      |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
      |  AND
      |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
      |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0
      |    AS fk_clean""".stripMargin))

  // ── Semi-structured profiling of the props JSON column: extract the
  //    numeric `$.k` field (q10's path-access primitive) and profile it
  //    per event type — null/parse-failure counts included, because the
  //    first thing wrong with semi-structured data is silently missing
  //    keys. One narrow get_json_object projection + one bounded agg.
  private def propsProfileDef: QueryDef = QueryDef(
    "q129_props_profile",
    (s, dir) => {
      import s.implicits._
      val k = get_json_object($"props", "$.k").cast("long")
      Tables.events(s, dir)
        .select($"event_type", k.as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"k".isNull, 1L).otherwise(0L)).as("n_missing"),
          min($"k").as("min_k"), max($"k").as("max_k"),
          sum($"k").as("sum_k"),
          round(sum($"k").cast("double") / count($"k").cast("double"), 9)
            .as("mean_k"))
    },
    Some("""WITH t AS (
      |  SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  ROUND(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE), 9) AS mean_k
      |FROM t GROUP BY event_type""".stripMargin))

  // ── Recency-weighted user value: LINEAR decay (weight = max(0,
  //    1 − age_days/30) against the corpus max timestamp) — the log-free
  //    alternative to exponential decay (exp is libm-territory and its
  //    cross-engine bits are not pinned; a linear ramp is two exact
  //    integer-derived IEEE ops). Age comes from exact epoch-microsecond
  //    integers; the reference instant is the corpus max(ts) (broadcast
  //    1-row), so the score is a pure function of the data, not of run
  //    time. One keyed agg on user_id; decimal-sum keeps the weighted
  //    total order-independent.
  private def recencyValueDef: QueryDef = QueryDef(
    "q127_recency_value",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"value", unix_micros($"ts").as("us"))
      val mx = ev.agg(max($"us").as("max_us"))
      val ageDays = ($"max_us" - $"us").cast("double") / lit(86400e6)
      val weight = greatest(lit(0.0), lit(1.0) - ageDays / lit(30.0))
      // computed-double sum: floor-1e6 fixed point (the tavg posture) —
      // decimal casts of arbitrary products can tie HALF_UP vs HALF_EVEN
      ev.crossJoin(broadcast(mx))
        .select($"user_id", ($"value" * weight).as("wv"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          (sum(floor($"wv" * lit(1e6)).cast("long")).cast("double") / lit(1e6))
            .as("recency_value"))
    },
    Some(s"""WITH ev AS (
      |  SELECT user_id, value, epoch_us(ts) AS us FROM events),
      |mx AS (SELECT MAX(us) AS max_us FROM ev),
      |wv AS (
      |  SELECT user_id,
      |    value * greatest(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
      |      - (CAST(max_us - us AS DOUBLE) / 86400e6) / CAST(30.0 AS DOUBLE))
      |      AS wv
      |  FROM ev CROSS JOIN mx)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(floor(wv * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
      |    AS recency_value
      |FROM wv GROUP BY user_id""".stripMargin))

  // ── Session path analysis — the journey rollup on top of q26/q102's
  //    sessionization: each session is summarized by its first three
  //    event types in time order (the "entry path"), then paths are
  //    counted and share-ranked. The pivot trick (max(when(rn = k)))
  //    turns the per-session path into a plain agg over the SAME
  //    user-keyed exchange the sessionizer already made; the path space
  //    is ≤ event_types³ + shorter prefixes, so everything after the
  //    per-session agg is bounded. concat_ws skips NULLs identically in
  //    both engines, so 1- and 2-event sessions fold in naturally.
  private def sessionPathsDef: QueryDef = QueryDef(
    "q120_session_paths",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sess = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts", $"event_type")
        .withColumn("new_session",
          when(lag($"ts", 1).over(byUser).isNull ||
            unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(byUser)) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_no",
          sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val inSess = Window.partitionBy($"user_id", $"session_no")
        .orderBy($"ts", $"event_id")
      val paths = sess
        .withColumn("rn", row_number().over(inSess))
        .where($"rn" <= 3)
        .groupBy($"user_id", $"session_no")
        .agg(concat_ws(">",
          max(when($"rn" === 1, $"event_type")),
          max(when($"rn" === 2, $"event_type")),
          max(when($"rn" === 3, $"event_type"))).as("path"))
      val counts = paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      val total = counts.agg(sum($"n_sessions").as("n_total"))
      counts.crossJoin(broadcast(total))
        .select($"path", $"n_sessions",
          round($"n_sessions".cast("double") / $"n_total".cast("double"), 9)
            .as("session_share"))
    },
    Some("""WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR date_diff('second', LAG(ts) OVER w, ts) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged),
      |rn AS (
      |  SELECT user_id, session_no, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_no
      |      ORDER BY ts, event_id) AS rn
      |  FROM sess),
      |paths AS (
      |  SELECT user_id, session_no,
      |    concat_ws('>',
      |      MAX(CASE WHEN rn = 1 THEN event_type END),
      |      MAX(CASE WHEN rn = 2 THEN event_type END),
      |      MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
      |  FROM rn WHERE rn <= 3 GROUP BY 1, 2),
      |c AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS n_total FROM c)
      |SELECT path, n_sessions,
      |  ROUND(CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
      |    AS session_share
      |FROM c CROSS JOIN t""".stripMargin))

  // ── Bloom-prefiltered semi-join — the runtime-filter pattern stated
  //    explicitly: build a bloom filter over the (selective) build-side
  //    keys with Spark's own BloomFilterAggregate, prefilter the fact scan
  //    with might_contain BEFORE any shuffle, then run the exact semi-join
  //    over the survivors (the bloom's false positives are removed there,
  //    so the result is bit-identical to the plain semi-join the oracle
  //    runs). At 100 TB this is the difference between shuffling every
  //    fact row and shuffling only probable matches — Spark's
  //    InjectRuntimeFilter does this automatically when statistics allow;
  //    materializing the one-row filter into a literal (a control-plane
  //    collect of ONE aggregated row, like the broadcast variables it
  //    mirrors) makes the pattern deterministic and plan-assertable.
  private def bloomSemiJoinDef: QueryDef = QueryDef(
    "q116_bloom_semijoin",
    (s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val keys = Tables.orders(s, dir)
        .where($"o_orderstatus" === "F" && $"o_totalprice" > 200000.0)
        .select($"o_orderkey")
      val bf = keys
        .agg(call_function("bloom_agg", $"o_orderkey").as("bf"))
        .head().getAs[Array[Byte]](0)
      Tables.lineitem(s, dir)
        .where(call_function("might_contain", lit(bf), $"l_orderkey"))
        .join(keys, $"l_orderkey" === $"o_orderkey", "left_semi")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          dsum($"l_extendedprice").as("total_price"))
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n_items,
      |  ${dsumSql("l_extendedprice")} AS total_price
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |  WHERE o_orderstatus = 'F' AND o_totalprice > 200000)
      |GROUP BY l_returnflag""".stripMargin))

  // ── Operational anomaly detection on event rates: gap-filled hourly
  //    counts per event type, z-scored against that type's own
  //    distribution, |z| > 3 flagged. The gap-fill matters — an hour with
  //    ZERO errors is a data point, and skipping it biases the mean up —
  //    so the series is densified against an hour spine (q09's scaffold
  //    pattern: bounded by construction at types × hours, never event-
  //    shaped). Stats use q95's exact-integer-moment tree (n, Σc, Σc²
  //    in BIGINT, then one pinned IEEE mean/std/z), broadcast back onto
  //    the spine. The 100 TB shape: the hourly pre-agg is the only
  //    corpus-scale pass; everything after operates on the bounded series.
  private def rateSpikeDef: QueryDef = QueryDef(
    "q108_rate_spikes",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", date_trunc("hour", $"ts").as("hour_ts"))
      val counts = ev.groupBy($"event_type", $"hour_ts")
        .agg(count(lit(1)).as("c"))
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
          .otherwise(0.0).as("std"))
      val z = round(when($"std" > 0.0,
        ($"c".cast("double") - $"mean") / $"std").otherwise(0.0), 9)
      full.join(broadcast(stats), "event_type")
        .select($"event_type", $"hour_ts", $"c".as("n_events"),
          z.as("z"), (abs(z) > 3.0).as("spike"))
    },
    Some("""WITH ev AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour_ts FROM events),
      |counts AS (SELECT event_type, hour_ts, COUNT(*) AS c
      |  FROM ev GROUP BY 1, 2),
      |b AS (SELECT min(hour_ts) AS lo, max(hour_ts) AS hi FROM ev),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
      |    AS hour_ts
      |  FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN b),
      |f AS (SELECT s.event_type, s.hour_ts,
      |    CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      |  FROM spine s LEFT JOIN counts c
      |    ON s.event_type = c.event_type AND s.hour_ts = c.hour_ts),
      |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
      |  FROM f GROUP BY 1),
      |stats AS (
      |  SELECT event_type,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CASE WHEN n > 1
      |      THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) /
      |                CAST(n * (n - 1) AS DOUBLE))
      |      ELSE 0.0 END AS std
      |  FROM st)
      |SELECT f.event_type, f.hour_ts, f.c AS n_events,
      |  ROUND(CASE WHEN std > 0 THEN (CAST(f.c AS DOUBLE) - mean) / std
      |    ELSE 0.0 END, 9) AS z,
      |  ABS(ROUND(CASE WHEN std > 0 THEN (CAST(f.c AS DOUBLE) - mean) / std
      |    ELSE 0.0 END, 9)) > CAST(3.0 AS DOUBLE) AS spike
      |FROM f JOIN stats USING (event_type)""".stripMargin))

  /** Once-per-session bucketed copies of lineitem/orders on the order key
    * (8 buckets, managed tables in the session warehouse). Bucket layout
    * is the declared, durable co-location contract recurring fact-fact
    * joins rely on at 100 TB — pay one shuffle at WRITE time, then every
    * join/agg on the key plans with zero Exchange forever. A durable
    * landing, registered under no bench line like [[partitionedDocs]].
    */
  private val bucketedCache =
    new graft.SessionCaches.Memo[String, (String, String)]

  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    bucketedCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val liT = s"graft_bk_lineitem$tag"
      val ordT = s"graft_bk_orders$tag"
      // explicit path = external table: a stale location from a previous
      // JVM is overwritten instead of tripping LOCATION_ALREADY_EXISTS
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/graft_bucketed/$liT")
        .saveAsTable(liT)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/graft_bucketed/$ordT")
        .saveAsTable(ordT)
      (liT, ordT)
    })
  }

  // ── Bucket-co-located fact-fact join: lineitem ⋈ orders on the order
  //    key over the bucketed tables — the join AND the per-order
  //    aggregation both inherit HashPartitioning(key, 8) from the scans,
  //    so the whole query plans with ZERO Exchange (PlanShapeSpec pins
  //    it). This is the physical design the ingestion catalog's
  //    writeBucketed sink exists for; the merge hint keeps the
  //    demonstration honest by ruling out a broadcast plan at fixture
  //    scale (at 100 TB neither side broadcasts anyway).
  private def bucketedJoinDef: QueryDef = QueryDef(
    "q104_bucketed_join",
    (s, dir) => {
      import s.implicits._
      val (liT, ordT) = bucketedTables(s, dir)
      s.table(liT).hint("merge")
        .join(s.table(ordT).where($"o_orderstatus" === "F").hint("merge"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          dsum($"l_quantity").as("total_qty"))
    },
    Some(s"""SELECT o_orderkey, COUNT(*) AS n_items,
      |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
      |  ${dsumSql("l_quantity")} AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderkey""".stripMargin))

  /** q92 appended via [[funnelDef]] to keep the ordered-stage logic and
    * its oracle adjacent. */

  // ── Ordered funnel analysis (view → click → purchase): each stage's
  //    timestamp is the user's FIRST qualifying event STRICTLY AFTER the
  //    previous stage (the product-analytics conversion funnel, not mere
  //    event-presence counting). Three keyed min-aggs chained by time
  //    predicates; conversion rates are single pinned divisions; stage
  //    latencies average exact epoch-microsecond integers through the
  //    davg-style double tree. Scale shape: per-stage frames are keyed on
  //    user_id (one shuffle each over the filtered event slice), the
  //    final rollup is a 1-row agg — no windows, no self-joins over the
  //    full stream.
  private def funnelDef: QueryDef = QueryDef(
    "q92_funnel",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
      val t1 = ev.where($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val t2 = ev.where($"event_type" === "click")
        .join(t1, "user_id").where($"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"), min($"t1").as("t1k"))
      val t3 = ev.where($"event_type" === "purchase")
        .join(t2.select($"user_id", $"t2"), "user_id").where($"ts" > $"t2")
        .groupBy($"user_id").agg(min($"ts").as("t3"), min($"t2").as("t2k"))
      ev.select($"user_id").distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2.select($"user_id", $"t2", $"t1k"), Seq("user_id"), "left")
        .join(t3.select($"user_id", $"t3", $"t2k"), Seq("user_id"), "left")
        .agg(
          count(lit(1)).as("n_users"),
          count($"t1").as("n_view"),
          count($"t2").as("n_click"),
          count($"t3").as("n_purchase"),
          round(count($"t2").cast("double") / count($"t1").cast("double"), 9)
            .as("view_to_click"),
          round(count($"t3").cast("double") / count($"t2").cast("double"), 9)
            .as("click_to_purchase"),
          round((sum(unix_micros($"t2") - unix_micros($"t1k")).cast("double")
            / lit(1e6)) / count($"t2"), 6).as("avg_secs_to_click"),
          round((sum(unix_micros($"t3") - unix_micros($"t2k")).cast("double")
            / lit(1e6)) / count($"t3"), 6).as("avg_secs_to_purchase"))
    },
    Some("""WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2, MIN(t1.t1) AS t1k
      |  FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3, MIN(t2.t2) AS t2k
      |  FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(COUNT(t1.t1) AS BIGINT) AS n_view,
      |  CAST(COUNT(t2.t2) AS BIGINT) AS n_click,
      |  CAST(COUNT(t3.t3) AS BIGINT) AS n_purchase,
      |  ROUND(CAST(COUNT(t2.t2) AS DOUBLE) / CAST(COUNT(t1.t1) AS DOUBLE), 9)
      |    AS view_to_click,
      |  ROUND(CAST(COUNT(t3.t3) AS DOUBLE) / CAST(COUNT(t2.t2) AS DOUBLE), 9)
      |    AS click_to_purchase,
      |  ROUND((CAST(SUM(epoch_us(t2.t2) - epoch_us(t2.t1k)) AS DOUBLE) / 1e6)
      |    / COUNT(t2.t2), 6) AS avg_secs_to_click,
      |  ROUND((CAST(SUM(epoch_us(t3.t3) - epoch_us(t3.t2k)) AS DOUBLE) / 1e6)
      |    / COUNT(t3.t3), 6) AS avg_secs_to_purchase
      |FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
      |LEFT JOIN t2 ON u.user_id = t2.user_id
      |LEFT JOIN t3 ON u.user_id = t3.user_id""".stripMargin))

  // ── RANGE (interval) join, the scale-safe way: find every purchase
  //    event inside the ±2-minute incident window around any error event.
  //    Naive `p.ts BETWEEN w.ts - 2m AND w.ts + 2m` plans as a
  //    BroadcastNestedLoopJoin (O(n·m) compares — fine for the oracle at
  //    fixture scale, fatal at 100 TB). The engine instead decomposes the
  //    range predicate into an EQUI-join on a time bin plus a residual
  //    filter: bin width = window width (4 min), so each window spans at
  //    most 2 bins (exploded) while each probe event has exactly 1 bin —
  //    a pair can only meet in the probe's bin, so no dedup is needed.
  //    The join becomes a plain keyed shuffle on the bin (AQE-broadcastable
  //    when one side is small), and the residual |p.ts − w.ts| ≤ 2 min
  //    runs on exact epoch-microsecond integers. Completes the temporal-
  //    join family: as-of (q27), stream-stream interval (followedBy),
  //    range (this).
  private def rangeJoinDef: QueryDef = QueryDef(
    "q94_range_join",
    (s, dir) => {
      import s.implicits._
      val binUs = 240000000L // 4 min, = the full window width
      val halfUs = 120000000L
      val ev = Tables.events(s, dir).select($"event_id", $"event_type",
        unix_micros($"ts").as("us"))
      val probes = ev.where($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"us".as("p_us"),
          floor($"us" / binUs).cast("long").as("bin"))
      val windows = ev.where($"event_type" === "error")
        .select($"event_id".as("w_id"), $"us".as("w_us"),
          explode(sequence(
            floor(($"us" - halfUs) / binUs).cast("long"),
            floor(($"us" + halfUs) / binUs).cast("long"))).as("bin"))
      probes.join(windows, "bin")
        .where(abs($"p_us" - $"w_us") <= halfUs)
        .select($"p_id", $"w_id", ($"p_us" - $"w_us").as("gap_us"))
    },
    Some("""SELECT p.event_id AS p_id, w.event_id AS w_id,
      |  epoch_us(p.ts) - epoch_us(w.ts) AS gap_us
      |FROM events p JOIN events w
      |  ON p.event_type = 'purchase' AND w.event_type = 'error'
      |  AND p.ts BETWEEN w.ts - INTERVAL 2 MINUTE
      |             AND w.ts + INTERVAL 2 MINUTE""".stripMargin))

  // ── MAD-based robust outlier detection: per event type, the median
  //    absolute deviation from the median (the robust dispersion measure
  //    a 50%-breakdown outlier detector uses where stddev is poisoned by
  //    the very outliers it should find). Two grouped exact-percentile
  //    passes (median, then median of |x − median|), both rounded at 1e-6
  //    (the q29 cross-engine percentile posture); the outlier rule is the
  //    standard |x − med| > 3 × 1.4826 × MAD with the constant as one
  //    pinned double product. Scale shape: two bounded-group percentile
  //    aggs + thresholds broadcast onto one counting scan; the 100 TB
  //    swap is approx_percentile in both passes (q68's sketch posture).
  private def madDef: QueryDef = QueryDef(
    "q96_mad",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"event_type", $"value")
      val med = ev.groupBy($"event_type")
        .agg(expr("round(percentile(value, 0.5), 6)").as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy($"event_type")
        .agg(min($"med").as("med"),
          expr("round(percentile(abs(value - med), 0.5), 6)").as("mad"))
      ev.join(broadcast(mad), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          min($"med").as("med"),
          min($"mad").as("mad"),
          sum(when(abs($"value" - $"med") >
            lit(3.0) * (lit(1.4826) * $"mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    },
    Some("""WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY 1),
      |mad AS (
      |  SELECT e.event_type, MIN(m.med) AS med,
      |    round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(d.med) AS med, MIN(d.mad) AS mad,
      |  CAST(SUM(CASE WHEN abs(e.value - d.med) >
      |    CAST(3.0 AS DOUBLE) * (CAST(1.4826 AS DOUBLE) * d.mad)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN mad d USING (event_type)
      |GROUP BY e.event_type""".stripMargin))

  // ── First-order Markov transition matrix over event types WITHIN the
  //    q26 gap sessions (a new session resets the chain — cross-session
  //    transitions are noise, not behavior). Both windows partition by
  //    user_id, so the whole chain costs ONE shuffle: the session-number
  //    running sum and the within-session lag reuse the same exchange
  //    (the second window's (user_id, session_no) clustering is satisfied
  //    by hashpartitioning(user_id); Spark only re-sorts). Transition
  //    counts are a 5×5-bounded agg; row-normalizing probabilities join
  //    the 5-row totals back broadcast. The division is one pinned IEEE
  //    op rounded at 1e-9 — the user-journey modeling primitive.
  private def markovDef: QueryDef = QueryDef(
    "q102_markov",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sess = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts", $"event_type")
        .withColumn("new_session",
          when(lag($"ts", 1).over(byUser).isNull ||
            unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(byUser)) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_no",
          sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val inSess = Window.partitionBy($"user_id", $"session_no")
        .orderBy($"ts", $"event_id")
      val trans = sess
        .withColumn("prev_type", lag($"event_type", 1).over(inSess))
        .where($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n_trans"))
      val totals = trans.groupBy($"prev_type")
        .agg(sum($"n_trans").as("n_from"))
      trans.join(broadcast(totals), "prev_type")
        .select($"prev_type", $"next_type", $"n_trans",
          round($"n_trans".cast("double") / $"n_from".cast("double"), 9)
            .as("p_trans"))
    },
    Some("""WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR date_diff('second', LAG(ts) OVER w, ts) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged),
      |trans AS (
      |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
      |  FROM (SELECT event_type, LAG(event_type) OVER (
      |      PARTITION BY user_id, session_no ORDER BY ts, event_id) AS prev_type
      |    FROM sess)
      |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      |  FROM trans GROUP BY 1)
      |SELECT t.prev_type, t.next_type, t.n_trans,
      |  ROUND(CAST(t.n_trans AS DOUBLE) / CAST(o.n_from AS DOUBLE), 9) AS p_trans
      |FROM trans t JOIN tot o USING (prev_type)""".stripMargin))

  // ── Event debounce — telemetry-ingest duplicate suppression: an event
  //    is suppressed when the SAME (user, type) fired within the
  //    preceding 5 seconds (client retries, double-clicks, at-least-once
  //    delivery). One LAG window per (user_id, event_type) key in exact
  //    epoch-micros arithmetic (the q94 posture — no timestamp
  //    subtraction semantics to disagree on), tie-broken by event_id.
  //    The per-type rollup prices the suppression rate. Scale shape: one
  //    keyed window, one small agg — the window key is the natural
  //    partition of the event stream.
  private def eventDebounceDef: QueryDef = QueryDef(
    "q158_event_debounce",
    (s, dir) => {
      import s.implicits._
      val byKey = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"us".asc, $"event_id".asc)
      Tables.events(s, dir)
        .select($"user_id", $"event_type", $"event_id",
          unix_micros($"ts").as("us"))
        .withColumn("prev_us", lag($"us", 1).over(byKey))
        .withColumn("suppressed",
          $"prev_us".isNotNull && ($"us" - $"prev_us") <= 5000000L)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"suppressed", 1L).otherwise(0L)).as("n_suppressed"))
        .withColumn("suppress_rate",
          round($"n_suppressed".cast("double") / $"n_events".cast("double"), 9))
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
      |  FROM events),
      |l AS (
      |  SELECT event_type,
      |    LAG(us) OVER (PARTITION BY user_id, event_type
      |      ORDER BY us ASC, event_id ASC) AS prev_us,
      |    us
      |  FROM e),
      |f AS (
      |  SELECT event_type,
      |    prev_us IS NOT NULL AND (us - prev_us) <= 5000000 AS suppressed
      |  FROM l)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN suppressed THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
      |  ROUND(CAST(SUM(CASE WHEN suppressed THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 9) AS suppress_rate
      |FROM f GROUP BY event_type""".stripMargin))

  /** The dialect-neutral SQL text q89 feeds IDENTICALLY to Spark SQL and
    * DuckDB (ANSI joins, CAST, exact decimal-sum revenue).
    */
  val SqlReportText: String =
    """SELECT n_name AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name""".stripMargin

  /** Dialect-neutral LATERAL top-N text (q304) — identical in Spark SQL
    * and DuckDB; Catalyst decorrelates it to a WindowGroupLimit.
    */
  val LateralTopkText: String =
    """SELECT n_name, o_orderkey, o_totalprice
      |FROM nation, LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC
      |  LIMIT 3
      |) t""".stripMargin

  /** Dialect-neutral WITH RECURSIVE date-spine text (q305) — identical in
    * Spark SQL (4.x recursive CTEs) and DuckDB. DATE + integer is day
    * arithmetic in both dialects.
    */
  val RecursiveSpineText: String =
    """WITH RECURSIVE days(d) AS (
      |  SELECT CAST('1995-01-01' AS DATE) AS d
      |  UNION ALL
      |  SELECT d + 1 FROM days WHERE d < CAST('1995-03-31' AS DATE)
      |),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT days.d, COALESCE(daily.n_orders, 0) AS n_orders
      |FROM days LEFT JOIN daily ON days.d = daily.d""".stripMargin

  // ── SLIDING-WINDOW distinct counting from mergeable daily sketch
  //    partials — the dashboard op ("distinct active users, trailing 7
  //    days, for every day") whose exact form is inherently quadratic in
  //    window length: every event must be re-counted under 7 anchor days.
  //    The sketch form touches each event ONCE (daily HLL register
  //    partials, q225's 64-register layout over the md5 hash), then
  //    merges 7 days of 64-long register rows per anchor by element-wise
  //    MAX — a window over the tiny (days × 64) register table, never the
  //    event stream. Both engines replay the registers bit-for-bit (the
  //    q225 argument: MAX-fold is order-independent, ρ via integer
  //    bit-length, one shared IEEE division), so the ESTIMATE itself is
  //    hash-compared, not boolean-gated. The exact side is q168's
  //    fan-out-to-anchor-days harness, restricted to days that exist.
  //    At 100 TB: register rows are the pre-aggregated state a streaming
  //    maintainer (EventStream.hllMaintain) keeps per day; any trailing
  //    window re-merges in O(window × 64) regardless of event volume.
  private def rollingHllDef: QueryDef = QueryDef(
    "q256_rolling_hll",
    (s, dir) => {
      import s.implicits._
      val du = Tables.events(s, dir)
        .select(unix_date($"ts".cast("date")).cast("long").as("d"),
          $"user_id")
        .distinct()
      val reg = graft.ext.TextAnalysis
        .hllRegisters(s, du, $"d", $"user_id".cast("string"))
        .withColumnRenamed("source", "d")
      val days = du.select($"d").distinct()
      val spine = days.crossJoin(s.range(0, 64).select($"id".as("bucket")))
      val filled = spine.join(reg, Seq("d", "bucket"), "left")
        .select($"d", $"bucket", coalesce($"m", lit(0)).as("m"))
      val w7 = Window.partitionBy($"bucket").orderBy($"d")
        .rangeBetween(-6, 0)
      val z = filled.withColumn("mm", max($"m").over(w7))
        .groupBy($"d")
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - mm)")).as("z"),
          sum(when($"mm" === 0, 1L).otherwise(0L)).as("n_empty"))
      val exact = du
        .select($"user_id", explode(sequence($"d", $"d" + 6L)).as("d"))
        .join(days, Seq("d"), "left_semi")
        .groupBy($"d").agg(countDistinct($"user_id").as("n_exact"))
      z.join(exact, "d")
        .select($"d".cast("int").as("epoch_day"), $"n_exact", $"n_empty",
          expr(s"CAST(floor(${TextQueries.HllNumLit} / CAST(z AS DOUBLE))"
            + " AS BIGINT)").as("hll_7d_est"))
        .withColumn("err_1e9",
          expr("abs(hll_7d_est - n_exact) * 1000000000 div n_exact"))
    },
    Some(s"""WITH du AS (
      |  SELECT DISTINCT
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
      |    user_id
      |  FROM events),
      |h AS (
      |  SELECT d,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM du),
      |r AS (
      |  SELECT d, h // 18014398509481984 AS bucket,
      |    h % 18014398509481984 AS w
      |  FROM h),
      |rho AS (
      |  SELECT d, bucket,
      |    CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho
      |  FROM r),
      |reg AS (SELECT d, bucket, MAX(rho) AS m FROM rho GROUP BY 1, 2),
      |days AS (SELECT DISTINCT d FROM du),
      |spine AS (
      |  SELECT d, unnest(generate_series(0, 63)) AS bucket FROM days),
      |filled AS (
      |  SELECT spine.d, spine.bucket, COALESCE(reg.m, 0) AS m
      |  FROM spine LEFT JOIN reg
      |    ON spine.d = reg.d AND spine.bucket = reg.bucket),
      |roll AS (
      |  SELECT d,
      |    MAX(m) OVER (PARTITION BY bucket ORDER BY d
      |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm
      |  FROM filled),
      |z AS (
      |  SELECT d, CAST(SUM(1::BIGINT << (55 - mm)) AS BIGINT) AS z,
      |    CAST(SUM(CASE WHEN mm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_empty
      |  FROM roll GROUP BY d),
      |fan AS (
      |  SELECT user_id, unnest(generate_series(d, d + 6)) AS d FROM du),
      |exact AS (
      |  SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      |  FROM fan WHERE d IN (SELECT d FROM days) GROUP BY d)
      |SELECT CAST(z.d AS INT) AS epoch_day, exact.n_exact, z.n_empty,
      |  CAST(floor(${TextQueries.HllNumLit} / CAST(z.z AS DOUBLE))
      |    AS BIGINT) AS hll_7d_est,
      |  abs(CAST(floor(${TextQueries.HllNumLit} / CAST(z.z AS DOUBLE))
      |    AS BIGINT) - exact.n_exact) * 1000000000 // exact.n_exact
      |    AS err_1e9
      |FROM z JOIN exact ON z.d = exact.d""".stripMargin))

  // ── Small-quantity revenue loss (the TPC-H Q17 shape): lineitems whose
  //    quantity falls below 20% of their PART's average quantity — the
  //    "would-be lost revenue if we stopped stocking odd lots" report.
  //    The correlated scalar subquery decorrelates into ONE per-part
  //    aggregate joined back to the fact scan; quantities are integral
  //    doubles, so the 20%-of-average threshold is the exact integer
  //    cross-multiplication 5·qty·n_part < sum_part — no float boundary
  //    for the two engines to disagree on. Scale shape: the per-part agg
  //    shuffles once on l_partkey and joins back on the same key (AQE
  //    picks broadcast when the part side is small); revenue is the
  //    exact decimal sum. Brand rollup keeps the output bounded.
  private def smallQtyRevenueDef: QueryDef = QueryDef(
    "q257_small_qty_revenue",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_extendedprice",
          $"l_quantity".cast("bigint").as("qty"))
      val perPart = li.groupBy($"l_partkey")
        .agg(sum($"qty").as("sum_qty"), count(lit(1)).as("n_li"))
      val small = li.join(perPart, "l_partkey")
        .where($"qty" * 5L * $"n_li" < $"sum_qty")
      small
        .join(broadcast(Tables.part(s, dir)),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_small"),
          dsum($"l_extendedprice").as("lost_revenue"))
    },
    Some(s"""WITH li AS (
      |  SELECT l_partkey, l_extendedprice,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem),
      |pp AS (
      |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
      |    COUNT(*) AS n_li
      |  FROM li GROUP BY 1)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  ${dsumSql("l_extendedprice")} AS lost_revenue
      |FROM li
      |JOIN pp USING (l_partkey)
      |JOIN part ON l_partkey = p_partkey
      |WHERE qty * 5 * n_li < sum_qty
      |GROUP BY p_brand""".stripMargin))

  // ── Customer order-count distribution (the TPC-H Q13 shape): how many
  //    customers placed exactly k non-urgent orders, INCLUDING the
  //    zero-order customers a plain join would drop — the left outer
  //    join is the whole point of the shape. Two keyed aggregations:
  //    orders-per-customer (left join so absent customers count 0), then
  //    the histogram over counts. All-integer output. Scale shape: one
  //    shuffle on o_custkey (the filter prunes map-side), one tiny
  //    shuffle on the count value; no window, no distinct.
  private def custDistDef: QueryDef = QueryDef(
    "q258_custdist",
    (s, dir) => {
      import s.implicits._
      val ord = Tables.orders(s, dir)
        .where($"o_orderpriority" =!= "1-URGENT")
        .select($"o_custkey")
      val perCust = Tables.customer(s, dir)
        .join(ord, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_custkey").as("c_count"))
      perCust.groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
    },
    Some("""WITH pc AS (
      |  SELECT c_custkey, COUNT(o_custkey) AS c_count
      |  FROM customer
      |  LEFT JOIN (SELECT o_custkey FROM orders
      |             WHERE o_orderpriority <> '1-URGENT') o
      |    ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM pc GROUP BY c_count""".stripMargin))

  // ── Item-item collaborative filtering from co-purchase co-occurrence —
  //    the "customers who bought X also bought" recommender primitive:
  //    parts sharing an order are co-occurrence pairs, similarity is
  //    cosine over order-membership vectors, top-3 neighbors per part.
  //    Pairwise work is bounded by ORDER SIZE (the pairs-within-small-
  //    groups pattern — Σ|order|² with |order| ≤ a few lineitems), never
  //    by part² — the same bucket-bounding rule as the dedup families.
  //    cosine² = co²/(n_p·n_q) keeps everything in exact integer
  //    arithmetic (co²·1e9 div n_p·n_q; monotone in cosine, so ranking
  //    is unchanged and no sqrt ever runs). The per-part top-3 rides the
  //    native bounded-heap `top_k` aggregate — k pairs per part per task
  //    map-side, zero window sort.
  /** Session-scoped cache of the distinct (l_orderkey, l_partkey) pair
    * substrate — the shared build of q264 (co-purchase similarity) and
    * q284 (affinity rings): both generate pairs-within-small-groups over
    * this frame, q284 after widening to the buyer key through orders.
    * One lineitem scan + one distinct shuffle total instead of two;
    * benched as its own named line (q00i_sub_orderpairs,
    * [[graft.Substrates]]) so consumers measure warm.
    */
  private val orderPartCache = graft.SessionCaches
    .memo[String, org.apache.spark.sql.DataFrame]("q00i_sub_orderpairs")

  private[graft] def orderPartCached(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    orderPartCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey").distinct()
        // SERIALIZED storage (r16): this substrate is corpus-proportional
        // (distinct lineitem pairs — ~60M rows at gen-sf10), and default
        // localCheckpoint unrolls DESERIALIZED UnsafeRow copies into the
        // MemoryStore — 32 concurrent materializing tasks blew the 8 GiB
        // heap at gen-sf10 (stack: Dataset.checkpoint → UnsafeRow.copy →
        // putIteratorAsValues). MEMORY_AND_DISK_SER keeps the compact
        // row bytes and spills gracefully; measured same-speed at sf0.1.
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    })

  private def coPurchaseDef: QueryDef = QueryDef(
    "q264_copurchase_sim",
    (s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val li = orderPartCached(s, dir)
      val sz = li.groupBy($"l_partkey").agg(count(lit(1)).as("n"))
      // in-row pair generation (the q284 rewrite): one keyed agg collects
      // each order's sorted distinct parts (TPC-H orders carry ~7 items —
      // trivially in-row) and the ordered pairs explode map-side, instead
      // of self-joining the substrate (which shuffles it twice)
      val co = li.groupBy($"l_orderkey")
        .agg(sort_array(collect_list($"l_partkey")).as("ps"))
        .where(size($"ps") >= 2)
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x AS pa, y AS pb))))")).as("pr"))
        .groupBy($"pr.pa".as("pa"), $"pr.pb".as("pb"))
        .agg(count(lit(1)).as("co"))
      val sym = co.select($"pa".as("p"), $"pb".as("q"), $"co")
        .unionByName(co.select($"pb".as("p"), $"pa".as("q"), $"co"))
      val scored = sym
        .join(sz.select($"l_partkey".as("p"), $"n".as("n_p")), "p")
        .join(sz.select($"l_partkey".as("q"), $"n".as("n_q")), "q")
        .select($"p", $"q",
          expr("co * co * 1000000000 div (n_p * n_q)").as("cos2_1e9"))
      scored.groupBy($"p")
        .agg(call_function("top_k", $"cos2_1e9", $"q", lit(3)).as("tk"))
        .select($"p", posexplode($"tk"))
        .select($"p".as("part"), ($"pos" + 1).cast("int").as("rnk"),
          $"col.key".as("cos2_1e9"), $"col.id".as("co_part"))
    },
    Some("""WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sz AS (SELECT l_partkey, COUNT(*) AS n FROM li GROUP BY 1),
      |co AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT pa AS p, pb AS q, co FROM co
      |  UNION ALL
      |  SELECT pb AS p, pa AS q, co FROM co),
      |sc AS (
      |  SELECT s.p, s.q,
      |    s.co * s.co * 1000000000 // (np.n * nq.n) AS cos2_1e9
      |  FROM sym s
      |  JOIN sz np ON np.l_partkey = s.p
      |  JOIN sz nq ON nq.l_partkey = s.q),
      |r AS (
      |  SELECT p, q, cos2_1e9,
      |    ROW_NUMBER() OVER (PARTITION BY p
      |      ORDER BY cos2_1e9 DESC, q ASC) AS rn
      |  FROM sc)
      |SELECT p AS part, CAST(rn AS INT) AS rnk, cos2_1e9, q AS co_part
      |FROM r WHERE rn <= 3""".stripMargin))

  // ── TPC-H Q3 shape — shipping-priority top-10: revenue still in flight
  //    (ordered before the cutoff, shipped after it) for one market
  //    segment, ranked. Scale shape: both date filters prune their scans
  //    map-side BEFORE the fact-fact join on l_orderkey; the segment
  //    filter rides a keys-only broadcast semi; the top-10 is
  //    TakeOrderedAndProject (per-partition heaps + single 10-row
  //    reduction — never a global sort). Deterministic selection: strict
  //    (revenue DESC, o_orderkey ASC) total order, and revenue itself is
  //    the exact decimal sum so both engines rank identically.
  private def shipPriorityDef: QueryDef = QueryDef(
    "q266_ship_priority",
    (s, dir) => {
      import s.implicits._
      val cust = Tables.customer(s, dir)
        .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
      val ord = Tables.orders(s, dir)
        .where($"o_orderdate" < "1998-01-01")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey", "left_semi")
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      Tables.lineitem(s, dir)
        .where($"l_shipdate" > "1998-01-01")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
        .orderBy($"revenue".desc, $"o_orderkey".asc)
        .limit(10)
    },
    Some(s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin))

  // ── TPC-H Q7 shape — cross-border shipping volume between two nations
  //    by direction and year. Scale shape: the nation filter is applied
  //    to the TINY dims (supplier, customer) BEFORE they touch a fact —
  //    both fact joins then run against nation-pruned broadcast sides,
  //    and the directional pair filter is a residual on two broadcast
  //    columns, so the lineitem scan is the only big input and it is
  //    date-pruned map-side. One keyed shuffle (l_orderkey ⋈ orders).
  private def nationVolumeDef: QueryDef = QueryDef(
    "q267_nation_volume",
    (s, dir) => {
      import s.implicits._
      val nat = Tables.nation(s, dir)
        .where($"n_name".isin("NATION_1", "NATION_2"))
      val sup = Tables.supplier(s, dir)
        .join(nat, $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cus = Tables.customer(s, dir)
        .join(nat, $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      Tables.lineitem(s, dir)
        .where($"l_shipdate".between("1996-01-01", "1997-12-31"))
        .select($"l_orderkey", $"l_suppkey",
          year($"l_shipdate").as("l_year"),
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("vol"))
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cus), $"o_custkey" === $"c_custkey")
        .where($"supp_nation" =!= $"cust_nation")
        .groupBy($"supp_nation", $"cust_nation", $"l_year")
        .agg(dsum($"vol").as("revenue"))
    },
    Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      |  AND cn.n_name IN ('NATION_1', 'NATION_2')
      |  AND sn.n_name <> cn.n_name
      |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
      |    AND TIMESTAMP '1997-12-31'
      |GROUP BY 1, 2, 3""".stripMargin))

  // ── TPC-H Q10 shape — returned-item revenue loss: top-20 customers by
  //    revenue of items returned from one quarter's orders. Scale shape:
  //    the quarter filter prunes orders map-side and the returnflag
  //    filter prunes lineitem map-side before their keyed join; customer
  //    attributes join AFTER the per-customer rollup (agg first, widen
  //    later — the join-back touches ≤|customers| rows, not |lineitem|);
  //    nation is broadcast; top-20 is TakeOrderedAndProject with the
  //    strict (revenue DESC, c_custkey ASC) order.
  private def returnedItemDef: QueryDef = QueryDef(
    "q268_returned_items",
    (s, dir) => {
      import s.implicits._
      val ord = Tables.orders(s, dir)
        .where($"o_orderdate" >= "1997-01-01" &&
          $"o_orderdate" < "1997-04-01")
        .select($"o_orderkey", $"o_custkey")
      val perCust = Tables.lineitem(s, dir)
        .where($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
      perCust
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"c_name", $"c_acctbal",
          $"n_name", $"revenue")
        .orderBy($"revenue".desc, $"c_custkey".asc)
        .limit(20)
    },
    Some(s"""WITH pc AS (
      |  SELECT o_custkey,
      |    ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT c_custkey, c_name, c_acctbal, n_name, revenue
      |FROM pc
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY revenue DESC, c_custkey ASC
      |LIMIT 20""".stripMargin))

  // ── TPC-H Q9 shape — product-line profit by supplier nation × order
  //    year. The fixtures carry no partsupp, so supply cost is proxied
  //    as a fixed fraction of retail price — the JOIN/AGG shape (two
  //    fact joins + three broadcast dims + two-level group) is the
  //    point. Exactness: retailprice has 1 decimal and quantity is
  //    integral, so 0.4·retail·qty is exactly a 2-decimal value and
  //    profit is exactly 4-decimal — the DECIMAL(18,4) cast recovers it
  //    bit-for-bit in both engines (the q240 argument). The name filter
  //    prunes part BEFORE broadcast.
  private def productProfitDef: QueryDef = QueryDef(
    "q269_product_profit",
    (s, dir) => {
      import s.implicits._
      val prt = Tables.part(s, dir)
        .where($"p_name".contains("gear"))
        .select($"p_partkey", $"p_retailprice")
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_quantity", $"l_extendedprice", $"l_discount")
        .join(broadcast(prt), $"l_partkey" === $"p_partkey")
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, dir)
          .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", year($"o_orderdate").as("o_year")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name".as("nation"), $"o_year")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
          lit(0.4) * $"p_retailprice" * $"l_quantity").as("sum_profit"))
    },
    Some(s"""SELECT n_name AS nation,
      |  CAST(year(o_orderdate) AS INT) AS o_year,
      |  ${dsumSql("l_extendedprice * (1.0 - l_discount)" +
           " - 0.4 * p_retailprice * l_quantity")} AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin))

  // ── TPC-H Q18 shape — large-volume orders: orders whose total
  //    quantity clears a threshold, widened with customer identity and
  //    ranked by order value. Scale shape: the HAVING runs FIRST as a
  //    keyed lineitem rollup (map-side partial sums; the threshold
  //    prunes before anything wide joins), then orders and customer
  //    attach to the tiny survivor set — broadcast-joinable by
  //    construction since survivors ≪ facts. Top-100 via
  //    TakeOrderedAndProject on (o_totalprice DESC, o_orderkey ASC).
  private def largeOrdersDef: QueryDef = QueryDef(
    "q270_large_orders",
    (s, dir) => {
      import s.implicits._
      val big = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("long")).as("sum_qty"))
        .where($"sum_qty" > 250L)
      big.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir).select($"c_custkey", $"c_name"),
          $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
          $"o_totalprice", $"sum_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(100)
    },
    Some("""WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY 1 HAVING sum_qty > 250)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
      |  o_totalprice, sum_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin))

  // ── TPC-H Q19 shape — disjunctive multi-arm predicate revenue: three
  //    (brand, size-range, quantity-range) arms OR'd into one residual
  //    on a single lineitem⋈part join. The point at scale: Catalyst
  //    keeps this ONE scan + ONE broadcast join — the OR collapses into
  //    a codegen'd residual instead of three unioned passes, and the
  //    common `l_quantity <= 30` hull is pushable. One-row output.
  private def disjunctiveRevenueDef: QueryDef = QueryDef(
    "q271_disjunctive_arms",
    (s, dir) => {
      import s.implicits._
      val arm = ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#14" && $"p_size".between(1, 35) &&
          $"l_quantity".between(20, 30))
      Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_quantity",
          $"l_extendedprice", $"l_discount")
        .join(broadcast(Tables.part(s, dir)
          .select($"p_partkey", $"p_brand", $"p_size")),
          $"l_partkey" === $"p_partkey")
        .where(arm)
        .agg(count(lit(1)).as("n_li"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"))
    },
    Some(s"""SELECT COUNT(*) AS n_li,
      |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |    AND l_quantity BETWEEN 1 AND 11)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |    AND l_quantity BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
      |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin))

  // ── TPC-H Q6 shape — the pure pushdown gate: one-year window, narrow
  //    discount band, quantity cap, no join at all. Every predicate and
  //    both columns must reach the parquet scan (PlanShapeSpec pins
  //    PushedFilters + a 4-column ReadSchema); the aggregate is a
  //    single exact decimal sum. The simplest query in the suite and
  //    the purest measure of scan efficiency at 100 TB.
  private def forecastRevenueDef: QueryDef = QueryDef(
    "q272_forecast_revenue",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .where($"l_shipdate" >= "1997-01-01" &&
          $"l_shipdate" < "1998-01-01" &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24.0)
        .agg(count(lit(1)).as("n_li"),
          dsum($"l_extendedprice" * $"l_discount").as("revenue"))
    },
    Some(s"""SELECT COUNT(*) AS n_li,
      |  ${dsumSql("l_extendedprice * l_discount")} AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin))

  // ── CUPED-adjusted A/B readout — the experimentation-platform
  //    primitive: users assign to arms by SALTED HASH (q63's
  //    reproducible-split contract — no RNG state, stable under
  //    re-partitioning), the metric is the post-period engagement count,
  //    and pre-period counts drive the CUPED variance reduction
  //    Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X). Every moment
  //    (Σx, Σy, Σxy, Σx²) is an EXACT BIGINT over per-user integer
  //    counts — no float accumulation anywhere — and θ/X̄/the adjusted
  //    means are IEEE divisions of identical integer cross-terms in
  //    both engines. Scale: one events scan, one shuffle on user_id,
  //    a 1-row pooled frame broadcast onto the 2-row arm rollup.
  private def cupedDef: QueryDef = QueryDef(
    "q278_cuped",
    (s, dir) => {
      import s.implicits._
      val per = Tables.events(s, dir)
        .select($"user_id",
          ($"ts" < "2024-01-16").cast("long").as("pre"))
        .groupBy($"user_id")
        .agg(sum($"pre").as("x"), sum(lit(1L) - $"pre").as("y"))
        .withColumn("arm", pmod(graft.ext.TextAnalysis.hash60(
          concat(lit("ab:"), $"user_id".cast("string"))), lit(2))
          .cast("int"))
      val pooled = per
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
          sum($"x" * $"y").as("sxy"))
        .select(
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("theta"),
          ($"sx".cast("double") / $"n".cast("double")).as("xbar"))
      per.groupBy($"arm")
        .agg(count(lit(1)).as("n_users"), sum($"x").as("sum_x"),
          sum($"y").as("sum_y"))
        .crossJoin(broadcast(pooled))
        .select($"arm", $"n_users", $"sum_x", $"sum_y", $"theta",
          ($"sum_y".cast("double") / $"n_users".cast("double"))
            .as("mean_y"),
          (($"sum_y".cast("double") - $"theta" *
            ($"sum_x".cast("double") -
              $"n_users".cast("double") * $"xbar")) /
            $"n_users".cast("double")).as("mean_y_adj"))
    },
    Some("""WITH per AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN 0 ELSE 1 END) AS BIGINT) AS y,
      |    CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
      |      1, 15))::BIGINT % 2 AS INT) AS arm
      |  FROM events GROUP BY user_id),
      |pooled AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM per),
      |th AS (
      |  SELECT CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
      |  FROM pooled)
      |SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(x) AS BIGINT) AS sum_x,
      |  CAST(SUM(y) AS BIGINT) AS sum_y, theta,
      |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_y,
      |  (CAST(SUM(y) AS DOUBLE) - theta * (CAST(SUM(x) AS DOUBLE)
      |    - CAST(COUNT(*) AS DOUBLE) * xbar))
      |    / CAST(COUNT(*) AS DOUBLE) AS mean_y_adj
      |FROM per, th GROUP BY arm, theta, xbar""".stripMargin))

  // ── DYNAMIC partition pruning gate — q130 pins the static case (a
  //    literal IN-list reaches PartitionFilters); this pins the runtime
  //    case: the fact is the source=… partitioned layout, the dim is the
  //    refresh shard — sources whose NEWEST doc id lands in modulus
  //    class 0 (the incremental-refresh rotation: knowable only by
  //    aggregating the corpus at RUN time, never foldable to a literal
  //    IN-list) — and Catalyst must plant a dynamicpruning subquery on
  //    the fact scan so only that shard's partitions are listed and
  //    read. At 100 TB this is the star-join scan killer: without DPP
  //    the fact scan reads every partition and the join discards most
  //    of it. PlanShapeSpec pins `dynamicpruning` inside the scan's
  //    PartitionFilters. Results are bit-equal to the unpartitioned
  //    replay the oracle runs.
  private def dppDef: QueryDef = QueryDef(
    "q280_dynamic_pruning",
    (s, dir) => {
      import s.implicits._
      val path = partitionedDocs(s, dir)
      val hot = Tables.documents(s, dir)
        .groupBy($"source").agg(count(lit(1)).as("sn"),
          max($"doc_id").as("newest"))
        .where(pmod($"newest", lit(3L)) === 0L)
        .select($"source", $"sn")
      s.read.parquet(path)
        .join(broadcast(hot), Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          max($"sn").as("sn"))
    },
    Some("""WITH hot AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sn
      |  FROM documents GROUP BY 1
      |  HAVING MAX(doc_id) % 3 = 0)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MAX(h.sn) AS sn
      |FROM documents d JOIN hot h ON d.source = h.source
      |GROUP BY 1""".stripMargin))

  // ── Co-purchase affinity rings — the collusion/segment-discovery
  //    screen: customer pairs scored by how many DISTINCT parts they
  //    share, the top-100 strongest affinities (strict (n_parts DESC,
  //    ua, ub) order — deterministic under ties) become links, and
  //    links close into rings via connected components, each ring
  //    summarized (size, link count, total shared-part mass). Scale
  //    bounds: pair generation is pairs-within-per-part-buyer-groups
  //    (the nb ≤ 64 guard caps any part at ≤ 2016 pairs — popular
  //    parts carry no affinity signal and would otherwise be the
  //    quadratic risk), the top-100 is TakeOrderedAndProject, and CC
  //    runs on exactly 100 edges. Oracle replays CC as a recursive CTE.
  private def ringsDef: QueryDef = QueryDef(
    "q284_affinity_rings",
    (s, dir) => {
      import s.implicits._
      // rides q264's distinct (order, part) substrate: widening through
      // orders first and distinct-ing after is row-identical (distinct of
      // a projection of a key join commutes with the inner distinct)
      // materialized ONCE: the (part, customer) substrate feeds the nb-cap
      // agg and BOTH self-join sides — without the checkpoint each consumer
      // replays the join+distinct lineage (exchange reuse across the
      // aliased sides is not guaranteed), tripling the dominant cost
      // count-cap pre-filter BEFORE any per-part materialization, then a
      // codegen'd self-join generates the C(nb,2) pair space. An in-row
      // rewrite (sort_array(collect_list) + higher-order-function pair
      // explode) was A/B'd in r9: it won for q264's shape but LOST 4.9x
      // here on the driver's hardware (BENCH_r08 4.30s -> BENCH_r09
      // 21.06s) — interpreted transform/slice/flatten pair generation
      // concentrated in the few post-agg tasks loses to the whole-stage-
      // codegen join path, and collecting the full buyer set before the
      // cap filter makes a hot part a single-row memory hotspot. The
      // self-join shape caps with a cheap count agg first, so no row ever
      // materializes an over-cap group.
      // (A pre-partition-by-part variant — repartition(l_partkey) before
      // the dedup so every downstream consumer rides one shuffle — was
      // probed in r10 and rejected: localCheckpoint materializes to an
      // RDD scan with UnknownPartitioning, so the clustering is NOT
      // preserved across the lineage cut and the self-join re-exchanges
      // anyway; measured a wash at sf0.1.)
      // both substrates are corpus-proportional → SERIALIZED checkpoint
      // storage (see orderPartCached's r16 note: deserialized unroll of
      // default localCheckpoint OOM'd the 8 GiB heap at gen-sf10)
      val buyers = orderPartCached(s, dir)
        .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_partkey", $"o_custkey").distinct()
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val bounded = buyers.join(
        buyers.groupBy($"l_partkey").agg(count(lit(1)).as("nb"))
          .where($"nb" <= RingGroupCap).select($"l_partkey"),
        "l_partkey")
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val links = bounded.as("a").join(bounded.as("b"),
          $"a.l_partkey" === $"b.l_partkey" &&
            $"a.o_custkey" < $"b.o_custkey")
        .groupBy($"a.o_custkey".as("ua"), $"b.o_custkey".as("ub"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy($"n_parts".desc, $"ua".asc, $"ub".asc)
        .limit(RingTopLinks)
        .localCheckpoint()
      // r16 optimization: links is ≤ RingTopLinks rows BY CONSTRUCTION
      // (the LIMIT above), so CC runs as a driver-side bounded union-find
      // instead of the distributed label-propagation loop — measured
      // 5.4 s → ~0 of pure per-round fixed cost at sf0.1, and the input
      // stays cap-bounded at ANY corpus size (the cap is the plan's own
      // LIMIT, not a fixture property)
      val cc = graft.ext.Dedup.connectedComponentsBounded(
        links.select($"ua", $"ub"), "ua", "ub", RingTopLinks)
      cc.groupBy($"cluster_id".as("ring_id"))
        .agg(count(lit(1)).as("n_users"))
        .join(cc.select($"id".as("ua"), $"cluster_id".as("ring_id")),
          Seq("ring_id"))
        .join(links, Seq("ua"))
        .groupBy($"ring_id")
        .agg(max($"n_users").as("n_users"),
          count(lit(1)).as("n_links"),
          sum($"n_parts").as("n_part_links"))
    },
    Some(s"""WITH RECURSIVE buyers AS (
      |  SELECT DISTINCT l_partkey, o_custkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |bounded AS (
      |  SELECT b.* FROM buyers b JOIN (
      |    SELECT l_partkey FROM buyers GROUP BY 1
      |    HAVING COUNT(*) <= $RingGroupCap) g USING (l_partkey)),
      |links AS (
      |  SELECT ua, ub, n_parts FROM (
      |    SELECT a.o_custkey AS ua, b.o_custkey AS ub,
      |      CAST(COUNT(*) AS BIGINT) AS n_parts
      |    FROM bounded a JOIN bounded b ON a.l_partkey = b.l_partkey
      |      AND a.o_custkey < b.o_custkey
      |    GROUP BY 1, 2)
      |  ORDER BY n_parts DESC, ua ASC, ub ASC
      |  LIMIT $RingTopLinks),
      |edges AS (
      |  SELECT ua AS src, ub AS dst FROM links
      |  UNION SELECT ub, ua FROM links),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION SELECT r.src, g.dst FROM reach r
      |    JOIN edges g ON r.dst = g.src),
      |cc AS (
      |  SELECT id, LEAST(id, MIN(dst)) AS cluster_id
      |  FROM (SELECT src AS id, dst FROM reach) GROUP BY id),
      |rings AS (
      |  SELECT cluster_id AS ring_id, CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM cc GROUP BY 1)
      |SELECT r.ring_id, MAX(r.n_users) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_links,
      |  CAST(SUM(l.n_parts) AS BIGINT) AS n_part_links
      |FROM rings r
      |JOIN cc ON cc.cluster_id = r.ring_id
      |JOIN links l ON l.ua = cc.id
      |GROUP BY r.ring_id""".stripMargin))

  /** Affinity-ring knobs: per-part buyer-group cap (quadratic guard; a
    * part with more buyers carries no collusion signal) and the number
    * of strongest links that close into rings. */
  val RingGroupCap = 64L
  val RingTopLinks = 100

  // ── Daily business-health report — the monitoring CAPSTONE in one
  //    plan: exact-cents daily revenue spine → trailing-28-day moments
  //    (integer sums; the window runs over the ≤#days post-agg spine,
  //    never over orders — the W3/q263 bounded-axis argument) →
  //    z-score as identical IEEE arithmetic → |z| ≥ 2 anomaly flags →
  //    and ONLY the flagged days join back to lineitem⋈part for their
  //    top-mover brand (the fact join is pruned by the tiny flagged-day
  //    set — the agg-first/widen-late rule applied to anomaly
  //    attribution, so 100 TB of lineitems are touched only for the
  //    handful of days that matter). Deterministic argmax: max_by on
  //    (cents, brand) with the DuckDB FIRST(… ORDER BY … DESC, … DESC)
  //    twin. Composes four gated families — exact-decimal rollup,
  //    bounded-spine windows, anomaly scoring, argmax attribution —
  //    the report a revenue-ops team actually pages on.
  private def healthDef: QueryDef = QueryDef(
    "q290_health_report",
    (s, dir) => {
      import s.implicits._
      // moments run on DOLLARS, not cents: the 28-day s1² cross-term
      // must stay inside BIGINT (cents overflow at this very fixture's
      // sf0.1 volume: (28·Σcents)² ≈ 4e21); revenue itself reports in
      // exact cents. At 1000× daily volume the moment sums graduate to
      // DECIMAL(38) — shape unchanged.
      val daily = Tables.orders(s, dir)
        .select($"o_orderdate".cast("date").as("d"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("c"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("u"))
        .groupBy($"d").agg(sum($"c").as("cents"), sum($"u").as("usd"))
      val w = Window.orderBy($"d".asc).rowsBetween(-28, -1)
      val flagged = daily
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("s1", sum($"usd").over(w))
        .withColumn("s2", sum($"usd" * $"usd").over(w))
        .where($"n_win" === 28L)
        .withColumn("mean_usd", $"s1".cast("double") / lit(28.0))
        .withColumn("var_usd",
          (lit(28L) * $"s2" - $"s1" * $"s1").cast("double") /
            lit(28.0 * 27.0))
        .withColumn("z",
          ($"usd".cast("double") - $"mean_usd") / sqrt($"var_usd"))
        .where(abs($"z") >= 2.0)
        .select($"d", $"cents", $"mean_usd", $"z")
        .localCheckpoint()
      val mover = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderdate".cast("date").as("d"))
        .join(broadcast(flagged.select($"d")), "d")
        .join(Tables.lineitem(s, dir)
          .select($"l_orderkey", $"l_partkey",
            expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
              .as("lc")),
          $"o_orderkey" === $"l_orderkey")
        .join(broadcast(Tables.part(s, dir)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"d", $"p_brand").agg(sum($"lc").as("bc"))
        .groupBy($"d")
        .agg(max_by(struct($"p_brand", $"bc"),
          struct($"bc", $"p_brand")).as("top"))
        .select($"d", $"top.p_brand".as("top_brand"),
          $"top.bc".as("brand_cents"))
      flagged.join(mover, Seq("d"), "left")
        .select($"d", $"cents", $"mean_usd", $"z",
          $"top_brand", $"brand_cents")
    },
    Some("""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents,
      |    CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS usd
      |  FROM orders GROUP BY 1),
      |win AS (
      |  SELECT d, cents, usd,
      |    COUNT(*) OVER w AS n_win,
      |    CAST(SUM(usd) OVER w AS BIGINT) AS s1,
      |    CAST(SUM(usd * usd) OVER w AS BIGINT) AS s2
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ASC
      |    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      |fl AS (
      |  SELECT d, cents,
      |    CAST(s1 AS DOUBLE) / 28.0 AS mean_usd,
      |    (CAST(usd AS DOUBLE) - CAST(s1 AS DOUBLE) / 28.0)
      |      / sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE) / (28.0 * 27.0))
      |      AS z
      |  FROM win WHERE n_win = 28),
      |flagged AS (SELECT * FROM fl WHERE abs(z) >= 2.0),
      |mover AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, p_brand,
      |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS bc
      |  FROM orders
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE CAST(o_orderdate AS DATE) IN (SELECT d FROM flagged)
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT d, FIRST(p_brand ORDER BY bc DESC, p_brand DESC)
      |      AS top_brand,
      |    MAX(bc) AS brand_cents
      |  FROM mover GROUP BY 1)
      |SELECT f.d, f.cents, f.mean_usd, f.z, t.top_brand, t.brand_cents
      |FROM flagged f LEFT JOIN top t ON f.d = t.d""".stripMargin))

  // ── Hierarchical contribution report (percent-of-parent, two levels)
  //    WITHOUT windows: nation revenue as share of its region and of
  //    the world, from ONE fact rollup re-aggregated upward — parent
  //    totals are dim-sized frames that join BACK (broadcast), where
  //    the naive plan computes the same numbers with partition-less
  //    `sum() over ()` windows that funnel the report through one
  //    task. Exact cents end to end; shares in basis points via
  //    nonnegative integer division. The "who moved the number"
  //    drill-down every exec dashboard starts from.
  private def contributionDef: QueryDef = QueryDef(
    "q292_contribution",
    (s, dir) => {
      import s.implicits._
      val byNation = Tables.orders(s, dir)
        .select($"o_custkey",
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("c"))
        .join(Tables.customer(s, dir)
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)
          .select($"n_nationkey", $"n_name", $"n_regionkey")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)
          .select($"r_regionkey", $"r_name")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum($"c").as("cents"))
      val byRegion = byNation.groupBy($"r_name")
        .agg(sum($"cents").as("r_cents"))
      val world = byRegion.agg(sum($"r_cents").as("w_cents"))
      byNation
        .join(broadcast(byRegion), "r_name")
        .crossJoin(broadcast(world))
        .select($"r_name", $"n_name", $"cents", $"r_cents", $"w_cents",
          expr("cents * 10000 div r_cents").as("share_of_region_bp"),
          expr("cents * 10000 div w_cents").as("share_of_world_bp"))
    },
    Some("""WITH bn AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |br AS (SELECT r_name, CAST(SUM(cents) AS BIGINT) AS r_cents
      |  FROM bn GROUP BY 1),
      |w AS (SELECT CAST(SUM(r_cents) AS BIGINT) AS w_cents FROM br)
      |SELECT bn.r_name, bn.n_name, bn.cents, br.r_cents, w.w_cents,
      |  bn.cents * 10000 // br.r_cents AS share_of_region_bp,
      |  bn.cents * 10000 // w.w_cents AS share_of_world_bp
      |FROM bn JOIN br ON bn.r_name = br.r_name, w""".stripMargin))

  // ── Discount-response monotonicity per brand — the pricing question
  //    ("do deeper discounts move volume?") WITHOUT a float mean ever
  //    being compared: quantities roll up per (brand, discount band
  //    = round(disc·100)), and adjacent bands compare mean quantities
  //    by EXACT CROSS-MULTIPLICATION (Σq₂·n₁ > Σq₁·n₂ ⇔ mean₂ > mean₁
  //    — integer, no division, no tie ambiguity). Output per brand:
  //    band count, up/down transition counts, and the net direction —
  //    a distribution-free trend verdict on the bounded band axis
  //    (≤ 11 bands per brand; the lag window runs there, never on
  //    lineitems).
  private def discountResponseDef: QueryDef = QueryDef(
    "q294_discount_response",
    (s, dir) => {
      import s.implicits._
      val bands = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .select($"p_brand",
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("band"),
          $"l_quantity".cast("long").as("q"))
        .groupBy($"p_brand", $"band")
        .agg(count(lit(1)).as("n"), sum($"q").as("sq"))
      val w = Window.partitionBy($"p_brand").orderBy($"band".asc)
      bands
        .withColumn("pn", lag($"n", 1).over(w))
        .withColumn("psq", lag($"sq", 1).over(w))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_bands"),
          sum(when($"pn".isNotNull &&
            $"sq" * $"pn" > $"psq" * $"n", 1L).otherwise(0L)).as("n_up"),
          sum(when($"pn".isNotNull &&
            $"sq" * $"pn" < $"psq" * $"n", 1L).otherwise(0L)).as("n_down"))
        .withColumn("direction", $"n_up" - $"n_down")
    },
    Some("""WITH b AS (
      |  SELECT p_brand,
      |    CAST(round(l_discount * 100) AS BIGINT) AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |lg AS (
      |  SELECT p_brand, n, sq,
      |    LAG(n, 1) OVER (PARTITION BY p_brand ORDER BY band ASC) AS pn,
      |    LAG(sq, 1) OVER (PARTITION BY p_brand ORDER BY band ASC) AS psq
      |  FROM b)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_bands,
      |  CAST(SUM(CASE WHEN pn IS NOT NULL AND sq * pn > psq * n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |  CAST(SUM(CASE WHEN pn IS NOT NULL AND sq * pn < psq * n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
      |  CAST(SUM(CASE WHEN pn IS NOT NULL AND sq * pn > psq * n
      |    THEN 1 ELSE 0 END) AS BIGINT)
      |  - CAST(SUM(CASE WHEN pn IS NOT NULL AND sq * pn < psq * n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS direction
      |FROM lg GROUP BY 1""".stripMargin))

  // ── W3 running total, the SCALE-SAFE variant (SURVEY §7.4 risk #1).
  //    q05's semantics force a global order, and its direct plan is a
  //    single-partition WindowExec — the one §2 operator whose plan would
  //    not survive 100 TB. This is the classic two-pass range-partitioned
  //    prefix sum, expressed declaratively so no stage ever concentrates
  //    the data on one task:
  //      1. bucket every row by a coarse prefix of the ordering key
  //         (calendar month — data-independent, order-preserving across
  //         buckets: every row of an earlier month precedes every row of
  //         a later one);
  //      2. per-bucket totals (one map-side-combined keyed agg, ~84 rows);
  //      3. EXCLUSIVE per-bucket offsets WITHOUT a single-partition
  //         window: a broadcast self-join of the tiny bucket-total frame
  //         on strictly-smaller bucket id + one keyed agg (84² pairs,
  //         control-plane sized, hash-distributed);
  //      4. within-bucket running totals — WindowExec partitioned BY
  //         BUCKET, parallel across all buckets — plus the broadcast
  //         offset.
  //    All sums run in DECIMAL (exact, associative), so bucket-split
  //    addition is bit-identical to the global left-to-right fold and the
  //    oracle's single window proves row-for-row equality of the whole
  //    corpus-sized result. PlanShapeSpec pins the plan shape: no
  //    `Exchange SinglePartition` anywhere, and every WindowExec carries
  //    a partition spec. Skewed buckets at 100 TB: month granularity is
  //    tunable (day/hour) and AQE splits oversized post-shuffle
  //    partitions; the offsets side stays control-plane sized either way.
  private def prefixSumDef: QueryDef = QueryDef(
    "q332_prefix_sum",
    (s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", to_date($"o_orderdate").as("order_date"),
          $"o_totalprice".cast(dec).as("v"))
        .withColumn("bucket", year($"order_date") * 12 + month($"order_date"))
      val bTot = o.groupBy($"bucket").agg(sum($"v").as("bt"))
      val offsets = bTot.as("a")
        .join(broadcast(bTot.as("b")), $"b.bucket" < $"a.bucket", "left")
        .groupBy($"a.bucket".as("bucket"))
        .agg(sum($"b.bt").as("off"))
      val w = Window.partitionBy($"bucket")
        .orderBy($"order_date".asc, $"o_orderkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.join(broadcast(offsets), Seq("bucket"))
        .withColumn("rt",
          coalesce($"off", lit(0).cast(dec)) + sum($"v").over(w))
        .select($"o_orderkey", $"order_date",
          $"rt".cast("double").as("running_total"))
    },
    Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
      |    OVER (ORDER BY CAST(o_orderdate AS DATE), o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS running_total
      |FROM orders""".stripMargin))

  // ── Derived PARTSUPP: the four TPC-H shapes the fixture set locks out
  //    (Q2/Q11/Q16/Q20 need a partsupp table /root/testdata doesn't ship)
  //    unlocked WITHOUT a fixture change, via the q82 synthetic-injection
  //    pattern: both engines derive the SAME deterministic partsupp from
  //    `part` × range(4) in pure 64-bit integer arithmetic, so the DuckDB
  //    oracle replays the derivation closed-form and the gate stays
  //    dtype-strict. Supplier assignment uses the public TPC-H dbgen
  //    distribution shape (TPC-H spec §4.2.3: 4 suppliers per part,
  //    suppkey = (p + i·(S/4 + p/S)) mod S, adapted to the fixture's
  //    0-based keys); availqty and cost are hash-derived from
  //    (partkey, suppkey) so duplicates from the modular fold (possible
  //    at tiny S) are IDENTICAL rows and one DISTINCT removes them
  //    consistently in both engines. Cost is carried as integer CENTS —
  //    sums/comparisons stay in exact long arithmetic; the only floating
  //    ops are final single-division casts both engines perform
  //    identically on identical integers.
  private def partsuppSpark(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val sCnt = Tables.supplier(s, dir).agg(count(lit(1)).as("s_cnt"))
    Tables.part(s, dir).select($"p_partkey")
      .crossJoin(broadcast(sCnt))
      .select($"p_partkey", $"s_cnt",
        explode(sequence(lit(0), lit(3))).as("i"))
      .select($"p_partkey".as("ps_partkey"),
        (($"p_partkey" + $"i" *
          (expr("s_cnt div 4") + expr("p_partkey div s_cnt"))) % $"s_cnt")
          .as("ps_suppkey"))
      .distinct()
      .select($"ps_partkey", $"ps_suppkey",
        (($"ps_partkey" * 7 + $"ps_suppkey" * 11) % 9998 + 1)
          .cast("int").as("ps_availqty"),
        (($"ps_partkey" * 31 + $"ps_suppkey" * 17) % 100000 + 100)
          .as("ps_cost_cents"))
  }

  /** Oracle-side twin of [[partsuppSpark]] as a WITH-clause prefix. */
  private val partsuppSql: String =
    """WITH sc AS (SELECT COUNT(*) AS s_cnt FROM supplier),
      |keys AS (
      |  SELECT DISTINCT p_partkey AS ps_partkey,
      |    (p_partkey + t.i * (s_cnt // 4 + p_partkey // s_cnt)) % s_cnt
      |      AS ps_suppkey
      |  FROM part, sc, (SELECT UNNEST(range(4)) AS i) t),
      |partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey * 7 + ps_suppkey * 11) % 9998 + 1 AS INTEGER)
      |      AS ps_availqty,
      |    (ps_partkey * 31 + ps_suppkey * 17) % 100000 + 100
      |      AS ps_cost_cents
      |  FROM keys)""".stripMargin

  // ── TPC-H Q2 shape: min-cost supplier per part within a region. The
  //    correlated "cost = (SELECT MIN(cost) ...)" subquery becomes a
  //    keyed min-agg + equality join back — both shuffle on ps_partkey,
  //    and the supplier/nation/region dimension chain broadcasts (dims
  //    are small at every scale; partsupp is the only fact-sized side
  //    and it shuffles exactly once). Cost ties are impossible by
  //    construction (17·Δsupp < 100000 for in-range suppkeys), so one
  //    row per part and the ordered LIMIT 100 is a deterministic set
  //    under the unique (s_acctbal desc, ..., ps_partkey) total order.
  private def partsuppMinCostDef: QueryDef = QueryDef(
    "q333_partsupp_mincost",
    (s, dir) => {
      import s.implicits._
      val ps = partsuppSpark(s, dir)
      val eurSupp = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir),
          $"s_nationkey" === $"n_nationkey")
        .join(Tables.region(s, dir),
          $"n_regionkey" === $"r_regionkey" && $"r_name" === "EUROPE")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val parts = Tables.part(s, dir)
        .where($"p_size" <= 10 && $"p_type".isin("SMALL", "ECONOMY"))
        .select($"p_partkey", $"p_type", $"p_size")
      val regional = ps
        .join(broadcast(eurSupp), $"ps_suppkey" === $"s_suppkey")
        .join(broadcast(parts), $"ps_partkey" === $"p_partkey")
      val minCost = regional.groupBy($"ps_partkey".as("mc_part"))
        .agg(min($"ps_cost_cents").as("mc_cents"))
      regional
        .join(minCost, $"ps_partkey" === $"mc_part" &&
          $"ps_cost_cents" === $"mc_cents")
        .select($"s_acctbal", $"s_name", $"n_name",
          $"ps_partkey", $"p_type", $"p_size",
          ($"ps_cost_cents".cast("double") / 100.0).as("ps_supplycost"))
        .orderBy($"s_acctbal".desc, $"n_name".asc, $"s_name".asc,
          $"ps_partkey".asc)
        .limit(100)
    },
    Some(partsuppSql + """,
      |rsupp AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |pp AS (
      |  SELECT p_partkey, p_type, p_size FROM part
      |  WHERE p_size <= 10 AND p_type IN ('SMALL', 'ECONOMY')),
      |regional AS (
      |  SELECT * FROM partsupp
      |  JOIN rsupp ON ps_suppkey = s_suppkey
      |  JOIN pp ON ps_partkey = p_partkey),
      |mc AS (
      |  SELECT ps_partkey AS mc_part, MIN(ps_cost_cents) AS mc_cents
      |  FROM regional GROUP BY 1)
      |SELECT s_acctbal, s_name, n_name, ps_partkey, p_type, p_size,
      |  CAST(ps_cost_cents AS DOUBLE) / 100.0 AS ps_supplycost
      |FROM regional
      |JOIN mc ON ps_partkey = mc_part AND ps_cost_cents = mc_cents
      |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, ps_partkey ASC
      |LIMIT 100""".stripMargin))

  // ── TPC-H Q11 shape: per-part inventory value share within a region,
  //    kept against a scalar total. Both sides are keyed aggs over the
  //    SAME region-filtered frame; the scalar total broadcasts (one row)
  //    and the HAVING is pure long arithmetic (part value > 2× the mean
  //    part value, cross-multiplied so there is no division and no float
  //    until the final display cast), so the gate is exact. The 2×-mean
  //    form scales with part count — TPC-H's fixed 0.0001 fraction keeps
  //    the same selectivity only because the spec scales it by 1/SF —
  //    so the result is non-degenerate at every fixture scale. partsupp
  //    shuffles once on ps_partkey; the threshold adds zero exchanges.
  private def partsuppValueShareDef: QueryDef = QueryDef(
    "q334_partsupp_value_share",
    (s, dir) => {
      import s.implicits._
      val asiaSupp = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
        .join(Tables.region(s, dir),
          $"n_regionkey" === $"r_regionkey" && $"r_name" === "ASIA")
        .select($"s_suppkey")
      val value = partsuppSpark(s, dir)
        .join(broadcast(asiaSupp), $"ps_suppkey" === $"s_suppkey")
        .select($"ps_partkey",
          ($"ps_cost_cents" * $"ps_availqty").as("value_cents"))
      val perPart = value.groupBy($"ps_partkey")
        .agg(sum($"value_cents").as("part_cents"))
      val total = value.agg(sum($"value_cents").as("total_cents"),
        countDistinct($"ps_partkey").as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .where($"part_cents" * $"n_parts" > $"total_cents" * 2)
        .select($"ps_partkey",
          ($"part_cents".cast("double") / 100.0).as("value"))
    },
    Some(partsuppSql + """,
      |rsupp AS (
      |  SELECT s_suppkey FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |v AS (
      |  SELECT ps_partkey, ps_cost_cents * ps_availqty AS value_cents
      |  FROM partsupp JOIN rsupp ON ps_suppkey = s_suppkey),
      |pp AS (
      |  SELECT ps_partkey, SUM(value_cents) AS part_cents
      |  FROM v GROUP BY 1),
      |tot AS (SELECT SUM(value_cents) AS total_cents,
      |  COUNT(DISTINCT ps_partkey) AS n_parts FROM v)
      |SELECT ps_partkey, CAST(part_cents AS DOUBLE) / 100.0 AS value
      |FROM pp, tot WHERE part_cents * n_parts > total_cents * 2""".stripMargin))

  // ── TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
  //    with a NOT IN supplier exclusion. The exclusion list (suppliers
  //    with negative balance — the fixture's deterministic analog of the
  //    spec's complaint-comment scan) is dimension-sized, so the NOT IN
  //    is a broadcast LEFT-ANTI — no fact-side shuffle for it; the
  //    count-distinct agg shuffles once on the group key.
  private def partsuppSupplierCntDef: QueryDef = QueryDef(
    "q335_partsupp_supplier_cnt",
    (s, dir) => {
      import s.implicits._
      val excluded = Tables.supplier(s, dir)
        .where($"s_acctbal" < 0).select($"s_suppkey")
      val parts = Tables.part(s, dir)
        .where($"p_brand" =!= "Brand#1" &&
          $"p_size".isin(1, 4, 9, 14, 23, 36, 45, 49))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      partsuppSpark(s, dir)
        .join(broadcast(excluded), $"ps_suppkey" === $"s_suppkey",
          "left_anti")
        .join(broadcast(parts), $"ps_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"ps_suppkey").as("supplier_cnt"))
    },
    Some(partsuppSql + """
      |SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp
      |JOIN part ON ps_partkey = p_partkey
      |WHERE ps_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |  AND p_brand <> 'Brand#1'
      |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      |GROUP BY 1, 2, 3""".stripMargin))

  // ── TPC-H Q20 shape: the semi-join chain — suppliers holding excess
  //    stock (availqty > half the shipped quantity) of any 'small%' part
  //    during 1997. lineitem (the only unbounded side) is filtered and
  //    pre-aggregated to (part, supp) BEFORE joining — one fact shuffle
  //    on the composite key, then everything else broadcasts; the final
  //    per-supplier step is a semi-join (EXISTS), not a count, so no
  //    second fact-sized shuffle. Quantities are integral in the fixture
  //    (the oracle's BIGINT cast would error otherwise), so the
  //    half-comparison is exact long arithmetic: 2·availqty > sum_qty.
  private def partsuppSemiChainDef: QueryDef = QueryDef(
    "q336_partsupp_semi_chain",
    (s, dir) => {
      import s.implicits._
      val smallParts = Tables.part(s, dir)
        .where($"p_name".startsWith("small"))
        .select($"p_partkey")
      val shipped = Tables.lineitem(s, dir)
        .where(year($"l_shipdate") === 1997)
        .join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity".cast("long")).as("sum_qty"))
      val excess = partsuppSpark(s, dir)
        .join(shipped, $"ps_partkey" === $"l_partkey" &&
          $"ps_suppkey" === $"l_suppkey")
        .where($"ps_availqty".cast("long") * 2 > $"sum_qty")
        .select($"ps_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(excess, $"s_suppkey" === $"ps_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name", $"s_acctbal")
    },
    Some(partsuppSql + """,
      |shipped AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      |  FROM lineitem
      |  WHERE EXTRACT(year FROM l_shipdate) = 1997
      |    AND l_partkey IN
      |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |  GROUP BY 1, 2),
      |excess AS (
      |  SELECT DISTINCT ps_suppkey FROM partsupp
      |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |  WHERE CAST(ps_availqty AS BIGINT) * 2 > sum_qty)
      |SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier WHERE s_suppkey IN (SELECT ps_suppkey FROM excess)""".stripMargin))

  // ── TPC-H Q22 shape: dormant high-balance customers — above-average
  //    positive balance in a chosen nation set, NO orders since the
  //    cutoff, rolled up per nation. The spec's cntrycode substring
  //    becomes the fixture's nationkey; the "no recent orders" NOT
  //    EXISTS becomes a LEFT-ANTI against the date-filtered orders
  //    projection (the filter pushes to the parquet scan, and only
  //    (o_custkey) survives to the join — at scale this is one keyed
  //    anti-join, never a cartesian). The above-average test runs in
  //    integer CENTS cross-multiplied against the one-row broadcast
  //    stats frame (cents·n > total — no division, no float compare);
  //    acctbal cents are exact in both engines (±ulp-of-integer inputs,
  //    ties impossible). Display sum is one final IEEE division.
  private def dormantCustomerDef: QueryDef = QueryDef(
    "q338_dormant_customers",
    (s, dir) => {
      import s.implicits._
      val sel = Tables.customer(s, dir)
        .where($"c_nationkey".isin(1, 5, 9, 13, 17, 21, 24))
        .select($"c_custkey", $"c_nationkey",
          round($"c_acctbal" * 100).cast("long").as("cents"))
      val stats = sel.where($"cents" > 0)
        .agg(sum($"cents").as("tot"), count(lit(1)).as("n"))
      val recent = Tables.orders(s, dir)
        .where($"o_orderdate" >= lit("2000-01-01").cast("date"))
        .select($"o_custkey")
      sel.crossJoin(broadcast(stats))
        .where($"cents" * $"n" > $"tot")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("numcust"), sum($"cents").as("_sc"))
        .select($"c_nationkey", $"numcust",
          ($"_sc".cast("double") / 100.0).as("totacctbal"))
    },
    Some("""WITH sel AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer WHERE c_nationkey IN (1, 5, 9, 13, 17, 21, 24)),
      |st AS (SELECT SUM(cents) AS tot, COUNT(*) AS n
      |       FROM sel WHERE cents > 0),
      |rich AS (SELECT * FROM sel, st WHERE cents * n > tot),
      |noord AS (
      |  SELECT * FROM rich WHERE c_custkey NOT IN
      |    (SELECT o_custkey FROM orders
      |     WHERE o_orderdate >= DATE '2000-01-01'))
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS totacctbal
      |FROM noord GROUP BY 1""".stripMargin))

  // ── TPC-H Q15 shape: the top supplier by quarterly revenue — the
  //    view + scalar-max + equality-join pattern. Revenue per supplier
  //    is ONE keyed agg over the date-pruned lineitem scan (predicate
  //    pushed); the max is a one-row broadcast; the tie-tolerant
  //    equality join is exact because both engines derive the revenue
  //    DOUBLE from the identical decimal sum (dsum), so max and
  //    equality compare identical bit patterns. Supplier dims
  //    broadcast.
  private def topSupplierDef: QueryDef = QueryDef(
    "q339_top_supplier",
    (s, dir) => {
      import s.implicits._
      val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      val rev = Tables.lineitem(s, dir)
        .where($"l_shipdate" >= lit("1997-01-01").cast("date") &&
          $"l_shipdate" < lit("1997-04-01").cast("date"))
        .groupBy($"l_suppkey")
        .agg(QueryDef.dsum(vol).as("total_revenue"))
      val mx = rev.agg(max($"total_revenue").as("mx"))
      rev.crossJoin(broadcast(mx))
        .where($"total_revenue" === $"mx")
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_name", $"s_acctbal")),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"total_revenue")
    },
    Some(s"""WITH r AS (
      |  SELECT l_suppkey,
      |    ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1997-01-01'
      |    AND l_shipdate < DATE '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, s_acctbal, total_revenue
      |FROM supplier JOIN r ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM r)""".stripMargin))

  // ── TPC-H Q7 shape: volume shipping between two nations, both
  //    directions, per supp-nation × cust-nation × ship year. The fact
  //    scan shuffles once for the orders join (the only fact-fact edge);
  //    supplier/customer/nation dims broadcast, and the two-nation pair
  //    predicate applies after the cheap dimension hops so only the two
  //    nations' rows survive into the agg.
  private def volumeShippingDef: QueryDef = QueryDef(
    "q340_volume_shipping",
    (s, dir) => {
      import s.implicits._
      val nat = Tables.nation(s, dir)
      val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      Tables.lineitem(s, dir)
        .where($"l_shipdate".between("1996-01-01", "1997-12-31"))
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
          $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, dir)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(nat.select($"n_nationkey".as("cn_key"),
          $"n_name".as("cust_nation"))), $"c_nationkey" === $"cn_key")
        .where(($"supp_nation" === "NATION_3" &&
            $"cust_nation" === "NATION_7") ||
          ($"supp_nation" === "NATION_7" &&
            $"cust_nation" === "NATION_3"))
        .select($"supp_nation", $"cust_nation",
          year($"l_shipdate").as("l_year"), vol.as("v"))
        .groupBy($"supp_nation", $"cust_nation", $"l_year")
        .agg(QueryDef.dsum($"v").as("revenue"))
    },
    Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |    AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3""".stripMargin))

  // ── TPC-H Q14 shape: promo revenue share for one month — two exact
  //    decimal sums over the same date-pruned scan (the CASE arm and the
  //    total), one final 100·a/b in double space with the identical
  //    left-associative op order in both engines. One scan, map-side
  //    combine, a 1-row result.
  private def promoRevenueDef: QueryDef = QueryDef(
    "q341_promo_revenue",
    (s, dir) => {
      import s.implicits._
      val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      Tables.lineitem(s, dir)
        .where($"l_shipdate" >= lit("1997-09-01").cast("date") &&
          $"l_shipdate" < lit("1997-10-01").cast("date"))
        .join(broadcast(Tables.part(s, dir)
          .select($"p_partkey", $"p_type")),
          $"l_partkey" === $"p_partkey")
        .agg(
          QueryDef.dsum(when($"p_type" === "PROMO", vol)
            .otherwise(lit(0.0))).as("pr"),
          QueryDef.dsum(vol).as("tr"))
        .select((lit(100.0) * $"pr" / $"tr").as("promo_revenue"),
          $"pr".as("promo_volume"), $"tr".as("total_volume"))
    },
    Some(s"""SELECT
      |  100.0 * pr / tr AS promo_revenue,
      |  pr AS promo_volume, tr AS total_volume
      |FROM (
      |  SELECT
      |    ${QueryDef.dsumSql(
           "CASE WHEN p_type = 'PROMO' " +
             "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
      |      AS pr,
      |    ${QueryDef.dsumSql("l_extendedprice * (1.0 - l_discount)")}
      |      AS tr
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= DATE '1997-09-01'
      |    AND l_shipdate < DATE '1997-10-01')""".stripMargin))

  // ── Derived LINEITEM logistics columns — the partsupp pattern again:
  //    the fixture ships no l_shipmode/l_commitdate/l_receiptdate, so
  //    Q4/Q12/Q21's logistics shapes were locked out. Both engines
  //    derive the SAME columns from (l_orderkey, l_linenumber,
  //    l_shipdate) in pure integer arithmetic + one date-plus-days op:
  //    mode = 5-way hash bucket, commit = ship ± [−30, 29] days,
  //    receipt = ship + [1, 14] days. Deterministic, oracle-replayable,
  //    zero fixture changes.
  private def lineitemLogistics(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val modeIdx = ($"l_orderkey" * 3 + $"l_linenumber") % 5
    Tables.lineitem(s, dir)
      .withColumn("ship_d", to_date($"l_shipdate"))
      .withColumn("l_shipmode",
        when(modeIdx === 0, "MAIL").when(modeIdx === 1, "SHIP")
          .when(modeIdx === 2, "AIR").when(modeIdx === 3, "TRUCK")
          .otherwise("RAIL"))
      .withColumn("l_commitdate", date_add($"ship_d",
        (($"l_orderkey" * 7 + $"l_linenumber" * 3) % 60 - 30).cast("int")))
      .withColumn("l_receiptdate", date_add($"ship_d",
        (($"l_orderkey" * 11 + $"l_linenumber" * 5) % 14 + 1).cast("int")))
  }

  /** Oracle-side twin of [[lineitemLogistics]] as a CTE body. */
  private val logisticsSql: String =
    """SELECT *, CAST(l_shipdate AS DATE) AS ship_d,
      |    CASE (l_orderkey * 3 + l_linenumber) % 5
      |      WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
      |      WHEN 3 THEN 'TRUCK' ELSE 'RAIL' END AS l_shipmode,
      |    CAST(l_shipdate AS DATE) +
      |      CAST((l_orderkey * 7 + l_linenumber * 3) % 60 - 30 AS INTEGER)
      |      AS l_commitdate,
      |    CAST(l_shipdate AS DATE) +
      |      CAST((l_orderkey * 11 + l_linenumber * 5) % 14 + 1 AS INTEGER)
      |      AS l_receiptdate
      |  FROM lineitem""".stripMargin

  // ── TPC-H Q12 shape: shipmode vs order priority — late-capable modes
  //    ('MAIL','SHIP') received in 1997 that met the commit-after-ship,
  //    receipt-after-commit discipline, split into high/low priority
  //    counts per mode. One fact-fact shuffle (orders join, both sides
  //    projected to two columns); everything else is a codegen'd scan.
  private def shipmodePriorityDef: QueryDef = QueryDef(
    "q342_shipmode_priority",
    (s, dir) => {
      import s.implicits._
      val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      lineitemLogistics(s, dir)
        .where($"l_shipmode".isin("MAIL", "SHIP") &&
          $"l_commitdate" < $"l_receiptdate" &&
          $"ship_d" < $"l_commitdate" &&
          $"l_receiptdate" >= lit("1997-01-01").cast("date") &&
          $"l_receiptdate" < lit("1998-01-01").cast("date"))
        .select($"l_orderkey", $"l_shipmode")
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_shipmode")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
    },
    Some(s"""WITH ext AS (
      |  $logisticsSql)
      |SELECT l_shipmode,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM ext JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipmode IN ('MAIL', 'SHIP')
      |  AND l_commitdate < l_receiptdate
      |  AND ship_d < l_commitdate
      |  AND l_receiptdate >= DATE '1997-01-01'
      |  AND l_receiptdate < DATE '1998-01-01'
      |GROUP BY 1""".stripMargin))

  // ── TPC-H Q21 shape: suppliers who kept multi-supplier orders
  //    waiting — for finished orders, the supplier whose line missed its
  //    commit while EVERY other supplier on the order met theirs. The
  //    correlated EXISTS / NOT EXISTS pair becomes one order-level agg
  //    (distinct suppliers, distinct LATE suppliers) joined back to the
  //    late lines — the pair-free rewrite: "some other supplier exists"
  //    ⟺ n_supp ≥ 2, "no other supplier was late" ⟺ n_late = 1 (the
  //    late line's own supplier being the one). Both engines run the
  //    SAME rewrite, so the equivalence is shared, not assumed. Two
  //    fact-sized shuffles total (order semi-filter + the order-level
  //    agg); supplier dim broadcasts; deterministic top-50 under the
  //    unique (numwait desc, s_suppkey) order.
  private def waitingSupplierDef: QueryDef = QueryDef(
    "q343_waiting_suppliers",
    (s, dir) => {
      import s.implicits._
      val late = $"l_receiptdate" > $"l_commitdate"
      val fli = lineitemLogistics(s, dir)
        .select($"l_orderkey", $"l_suppkey",
          $"l_commitdate", $"l_receiptdate")
        .join(Tables.orders(s, dir).where($"o_orderstatus" === "F")
          .select($"o_orderkey"),
          $"l_orderkey" === $"o_orderkey")
      // r16 optimization (the q209 rewrite): fli fed BOTH the per-order
      // count-distinct agg and the late-pair distinct — the logistics
      // join subtree was evaluated twice and re-joined on the order key.
      // One (order, supplier) rollup + two window aggregates over one
      // order-keyed sort computes the identical pair set: n_supp =
      // COUNT(*) over the rollup ≡ COUNT(DISTINCT l_suppkey), n_late =
      // Σ late-flags ≡ COUNT(DISTINCT CASE WHEN late THEN l_suppkey END).
      val os = fli.groupBy($"l_orderkey", $"l_suppkey")
        .agg(max(when(late, 1L).otherwise(0L)).as("lt"))
      val w = Window.partitionBy($"l_orderkey")
      os
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late", sum($"lt").over(w))
        .where($"lt" === 1L && $"n_supp" >= 2L && $"n_late" === 1L)
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_name")),
          $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_suppkey", $"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_suppkey".asc)
        .limit(50)
    },
    Some(s"""WITH ext AS (
      |  $logisticsSql),
      |fli AS (
      |  SELECT l_orderkey, l_suppkey, l_commitdate, l_receiptdate
      |  FROM ext JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'),
      |g AS (
      |  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT CASE WHEN l_receiptdate > l_commitdate
      |      THEN l_suppkey END) AS n_late
      |  FROM fli GROUP BY 1),
      |l1 AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM fli
      |  WHERE l_receiptdate > l_commitdate)
      |SELECT s_suppkey, s_name, COUNT(*) AS numwait
      |FROM l1
      |JOIN g USING (l_orderkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE n_supp >= 2 AND n_late = 1
      |GROUP BY 1, 2
      |ORDER BY numwait DESC, s_suppkey ASC
      |LIMIT 50""".stripMargin))

  // ── TPC-H Q6 shape: forecast revenue change — one pruned scan, every
  //    predicate pushed to parquet (date range, discount band, quantity
  //    cap), one exact decimal sum. The discount-band compare runs in
  //    integer CENTS (round(l_discount·100) — exact: 2-dp doubles land
  //    within an ulp of the integer, ties impossible) so the boundary
  //    rows are engine-independent.
  private def forecastDiscountDef: QueryDef = QueryDef(
    "q344_forecast_discount",
    (s, dir) => {
      import s.implicits._
      val dcents = round($"l_discount" * 100).cast("long")
      Tables.lineitem(s, dir)
        .where($"l_shipdate" >= lit("1997-01-01").cast("date") &&
          $"l_shipdate" < lit("1998-01-01").cast("date") &&
          $"l_quantity" < 24.0)
        .where(dcents.between(5L, 7L))
        .agg(QueryDef.dsum($"l_extendedprice" * $"l_discount")
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""SELECT
      |  ${QueryDef.dsumSql("l_extendedprice * l_discount")} AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1997-01-01'
      |  AND l_shipdate < DATE '1998-01-01'
      |  AND l_quantity < 24.0
      |  AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7""".stripMargin))

  // ── Skew KILL-test (r14 judge item 6) — the 100 TB hot-key story made
  //    a GATE, not just a pattern: a deliberately ~1000×-hot key (every
  //    even l_orderkey maps to one key "HOT" = half the fact table;
  //    every odd one spreads over 1024 cold keys of ~0.05% each) joins a
  //    2049-row dim through the q166 salted-SMJ shape — fact salt =
  //    md5-derived hash of the unique row id mod 32, dim explodes all 32
  //    salts, the join runs on (skew_key, salt) and is FORCED to
  //    SortMergeJoin so the salt genuinely spreads HOT's rows across 32
  //    shuffle partitions (broadcast would make it decorative; at scale
  //    this is the escape hatch when the hot side feeds a downstream
  //    keyed agg and AQE's skew split can't apply). The gate is two
  //    claims in one hash: correctness (the salted plan is
  //    result-identical to the plain join the oracle runs) and the
  //    straggler BOUND itself — n_salts is COUNT(DISTINCT salt) per key,
  //    so the output proves HOT's rows occupied all 32 salt lanes (the
  //    largest post-shuffle group is |HOT|/32, pinned quantitatively by
  //    Round15Spec; PlanShapeSpec pins SMJ keyed on both columns). The
  //    md5 salt is engine-replicable, so the oracle computes the same
  //    lane occupancy with zero Spark help. Fixed point is CENTS
  //    (floor(price·weight·100)): exact, and the per-row magnitude
  //    (~6e8) keeps the 64-bit sum safe past 1e9 hot rows.
  private def skewKillDef: QueryDef = QueryDef(
    "q345_skew_kill",
    (s, dir) => {
      import s.implicits._
      val fact = Tables.lineitem(s, dir)
        .select(
          when(pmod($"l_orderkey", lit(2L)) === 0L, lit("HOT"))
            .otherwise(concat(lit("k"),
              pmod($"l_orderkey", lit(2048L)).cast("string")))
            .as("skew_key"),
          pmod(graft.ext.TextAnalysis.hash60(
              ($"l_orderkey" * 8L + $"l_linenumber").cast("string")),
            lit(32L)).cast("int").as("salt"),
          $"l_extendedprice")
      val dim = s.range(2049)
        .select(
          when($"id" === 0L, lit("HOT"))
            .otherwise(concat(lit("k"), ($"id" - 1L).cast("string")))
            .as("skew_key"),
          (pmod($"id", lit(97L)) + 2L).as("weight"))
      val dimSalted = dim.withColumn("salt",
        explode(array((0 until 32).map(i => lit(i)): _*)))
      fact.join(dimSalted.hint("merge"), Seq("skew_key", "salt"))
        .groupBy($"skew_key")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"salt").as("n_salts"),
          (sum(floor($"l_extendedprice" * $"weight".cast("double")
            * lit(100.0)).cast("long")).cast("double") / lit(100.0))
            .as("weighted_sum"))
    },
    Some("""WITH dim AS (
      |  SELECT CASE WHEN i = 0 THEN 'HOT'
      |              ELSE 'k' || CAST(i - 1 AS VARCHAR) END AS skew_key,
      |    CAST(i % 97 + 2 AS BIGINT) AS weight
      |  FROM (SELECT unnest(generate_series(0, 2048)) AS i)),
      |f AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'HOT'
      |              ELSE 'k' || CAST(l_orderkey % 2048 AS VARCHAR)
      |         END AS skew_key,
      |    CAST(('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
      |      AS VARCHAR)), 1, 15))::BIGINT % 32 AS INT) AS salt,
      |    l_extendedprice
      |  FROM lineitem)
      |SELECT f.skew_key, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT f.salt) AS n_salts,
      |  CAST(SUM(CAST(floor(f.l_extendedprice * CAST(dim.weight AS DOUBLE)
      |    * 100) AS BIGINT)) AS DOUBLE) / 100 AS weighted_sum
      |FROM f JOIN dim USING (skew_key)
      |GROUP BY 1""".stripMargin))
}
