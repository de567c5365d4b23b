package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Queries.{t, dec}

/**
 * Analytics operators beyond the reference (BASELINE north star):
 * joins (broadcast + shuffle), windows, top-k, rollup, set ops,
 * semi/anti joins, exact + approximate aggregation.
 *
 * Scale notes are per-query; the common rules: small dims are
 * broadcast (no shuffle of the fact side), FP aggregation goes through
 * DECIMAL for order-independent exactness, every ordering has a
 * deterministic tiebreak.
 */
object AnalyticsQueries {

  /** Daily gap-fill resample oracle — shared by `q_resample_daily` and
    * its playbook-compiled twin `q_playbook_resample`; the fill
    * arithmetic is the literal IEEE sequence the engine computes. */
  private[queries] val resampleDailyOracle: String =
    """WITH e AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b, value FROM events),
        agg AS (SELECT user_id, b, COUNT(*) AS n_obs,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg
          FROM e GROUP BY 1, 2),
        span AS (SELECT user_id, min(b) AS mnb, max(b) AS mxb FROM agg GROUP BY 1),
        grid AS (SELECT user_id, unnest(generate_series(mnb, mxb)) AS b FROM span),
        j AS (SELECT g.user_id, g.b, a.n_obs, a.v_avg
          FROM grid g LEFT JOIN agg a USING (user_id, b)),
        w AS (SELECT *,
          last_value(v_avg IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          last_value(CASE WHEN v_avg IS NOT NULL THEN b END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
          first_value(v_avg IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN v_avg IS NOT NULL THEN b END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY b
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
          FROM j)
        SELECT user_id, b * 86400 AS bucket_start,
          coalesce(n_obs, 0) AS n_obs, v_avg, pv AS v_ffill,
          CASE WHEN v_avg IS NOT NULL THEN v_avg
               WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
               ELSE coalesce(pv, nv) END AS v_interp
        FROM w"""

  /** Z-order key oracle over lineitem (l_partkey, l_suppkey) at 16
    * bits — shared by `q_zorder_value` and the playbook-compiled
    * `q_playbook_zorder`; restates the engine's exact IEEE bucket
    * arithmetic and bit interleave. */
  private[queries] val zorderValueOracle: String =
    """WITH bd AS (SELECT
          min(CAST(l_partkey AS DOUBLE)) AS mnx, max(CAST(l_partkey AS DOUBLE)) AS mxx,
          min(CAST(l_suppkey AS DOUBLE)) AS mny, max(CAST(l_suppkey AS DOUBLE)) AS mxy
          FROM lineitem),
        c AS (SELECT l_orderkey, l_linenumber,
          CASE WHEN mxx > mnx THEN least(65535, CAST(floor(
            (CAST(l_partkey AS DOUBLE) - mnx) * 65536.0 / (mxx - mnx)) AS BIGINT))
            ELSE 0 END AS zx,
          CASE WHEN mxy > mny THEN least(65535, CAST(floor(
            (CAST(l_suppkey AS DOUBLE) - mny) * 65536.0 / (mxy - mny)) AS BIGINT))
            ELSE 0 END AS zy
          FROM lineitem, bd)
        SELECT l_orderkey, l_linenumber,
          CAST(list_sum(list_transform(generate_series(0, 15),
            i -> (((zx >> i) & 1) << (2*i)) + (((zy >> i) & 1) << (2*i + 1))))
            AS BIGINT) AS zval
        FROM c"""

  /** Data-contract report oracle over lineitem (7 rule types) — shared
    * by `q_expectations` and the playbook twin `q_playbook_expect`.
    * Each violation count restated exactly; labels match the Rule
    * `label` strings verbatim. */
  private[queries] val expectationsOracle: String =
    """WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
      r AS (
        SELECT 'not_null(l_orderkey)' AS rule,
          (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS v
        UNION ALL SELECT 'in_range(l_quantity,1.0,30.0)',
          (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT NULL
            AND (CAST(l_quantity AS DOUBLE) < 1.0 OR CAST(l_quantity AS DOUBLE) > 30.0))
        UNION ALL SELECT 'accepted_values(l_returnflag)',
          (SELECT count(*) FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_returnflag NOT IN ('A', 'N', 'R'))
        UNION ALL SELECT 'matches_regex(l_linestatus)',
          (SELECT count(*) FROM lineitem WHERE l_linestatus IS NOT NULL
            AND NOT regexp_matches(l_linestatus, '^[OF]$'))
        UNION ALL SELECT 'satisfies(nonneg_price)',
          (SELECT count(*) FROM lineitem
            WHERE NOT coalesce(l_extendedprice >= 0, false))
        UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
          (SELECT coalesce(sum(c), 0) FROM (
            SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
        UNION ALL SELECT 'ref_integrity(l_orderkey)',
          (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
            AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
      SELECT rule, n_rows, CAST(v AS BIGINT) AS n_violations,
        v = 0 AS pass
      FROM r, n"""

  /** Benford audit oracle, macro-built from the SAME magnitude powers
    * and expectation micros the engine uses (Stats.benfordMicro). */
  private val benfordOracle: String = {
    val pow = (0 to 17).map(i => BigInt(10).pow(i))
    val digitCase = (17 to 1 by -1)
      .map(i => s"WHEN m >= ${pow(i)} THEN m // ${pow(i)}").mkString(" ")
    val expCase = graft.ops.Stats.benfordMicro.toSeq.sortBy(_._1)
      .map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ")
    s"""WITH v AS (SELECT o_orderpriority,
        CAST(CAST(abs(o_totalprice) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
        FROM orders WHERE o_totalprice IS NOT NULL),
      d AS (SELECT o_orderpriority,
        CAST(CASE $digitCase ELSE m END AS INTEGER) AS digit
        FROM v WHERE m > 0),
      c AS (SELECT o_orderpriority, digit, COUNT(*) AS n FROM d GROUP BY 1, 2),
      t AS (SELECT *, SUM(n) OVER (PARTITION BY o_orderpriority) AS tot FROM c)
      SELECT o_orderpriority, digit, n,
        CAST((n * 1000000) // tot AS BIGINT) AS share_micro,
        CAST(CASE digit $expCase ELSE 0 END AS BIGINT) AS benford_micro,
        CAST(abs((n * 1000000) // tot - CASE digit $expCase ELSE 0 END) AS BIGINT) AS dev_micro
      FROM t"""
  }

  /** Fellegi-Sunter m/u config shared by the query and its oracle. */
  private val fsMu = Seq(("c_mktsegment", 0.95, 0.2), ("bal_band", 0.9, 0.1))
  private val fsOracle: String = {
    val w = graft.ops.Linkage.weightTable(fsMu)
    val Seq((_, mktA, mktD), (_, bandA, bandD)) = w
    s"""WITH a AS (SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS mkt,
        CAST(floor(c_acctbal / 1000) AS BIGINT) AS band FROM customer),
      b AS (SELECT c_custkey + 1000000 AS id, c_nationkey AS blk,
        CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED' ELSE c_mktsegment END AS mkt,
        CAST(floor(c_acctbal / 1000) AS BIGINT) AS band FROM customer),
      p AS (SELECT a.id AS id_a, b.id AS id_b,
        (CASE WHEN a.mkt IS NULL OR b.mkt IS NULL THEN 0
              WHEN a.mkt = b.mkt THEN $mktA ELSE $mktD END)
        + (CASE WHEN a.band IS NULL OR b.band IS NULL THEN 0
                WHEN a.band = b.band THEN $bandA ELSE $bandD END) AS score_micro
        FROM a JOIN b ON a.blk = b.blk)
      SELECT id_a, id_b, score_micro,
        CASE WHEN score_micro >= 3000000 THEN 'match'
             WHEN score_micro <= -2000000 THEN 'non_match'
             ELSE 'review' END AS verdict
      FROM p"""
  }

  val all: Seq[Q] = Seq(

    // Fellegi-Sunter record linkage: customer vs a deterministically
    // perturbed twin, blocked on nation; integral-micro log-odds
    // weights inlined identically in both plans.
    Q("q_record_linkage",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val a = c.select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), floor(col("c_acctbal") / 1000).as("bal_band"))
        val b = c.select((col("c_custkey") + 1000000).as("c_custkey"),
          col("c_nationkey"),
          when(expr("c_custkey % 7 = 0"), lit("PERTURBED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_band"))
        graft.ops.Linkage.fellegiSunter(a, b, "c_custkey", "c_nationkey",
          Seq("c_mktsegment", "bal_band"), fsMu,
          upperMicro = 3000000L, lowerMicro = -2000000L)
      },
      Some(fsOracle)),


    // Star join: fact orders shuffles once on o_custkey; nation/region
    // are broadcast (at 100 TB: customer bucketed on custkey avoids
    // even that shuffle).
    Q("q_join_revenue",
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      Some("""SELECT r_name, n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""")),

    // Running window aggregate (decimal-exact running sum).
    Q("q_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          sum(dec(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_value"),
          row_number().over(w).as("rn"))
      },
      Some("""SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events""")),

    // Trailing-hour RANGE-frame window per user (the rows-frame
    // running sum above can't express "last 60 minutes"): peers are
    // chosen by ORDER-BY value distance, so same-second events are
    // frame peers identically in both engines. Decimal-exact sum.
    Q("q_window_range_trailing",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
          .rangeBetween(-3600, Window.currentRow)
        t(s, dir, "events")
          .withColumn("ts_sec", unix_timestamp(col("ts")))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum(dec(col("value"))).over(w).cast("double").as("sum_1h"))
      },
      Some("""SELECT event_id, user_id,
          COUNT(*) OVER w AS n_1h,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        FROM (SELECT event_id, user_id, value,
            CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")),

    // Relational set difference (EXCEPT = distinct set semantics,
    // complementing the anti-join formulation of q_anti_join):
    // high-balance customers outside the automobile segment.
    Q("q_set_except",
      (s, dir) => {
        val c = t(s, dir, "customer")
        c.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("key"))
          .except(c.filter(col("c_mktsegment") === "AUTOMOBILE")
            .select(col("c_custkey").as("key")))
      },
      Some("""SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
        EXCEPT SELECT c_custkey AS key FROM customer
        WHERE c_mktsegment = 'AUTOMOBILE'""")),

    // Unpivot/melt: lineitem's four measure columns to long format
    // (row-local — the inverse of the pivot above, no shuffle at all).
    Q("q_unpivot",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "val"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""")),

    // lag/lead/rank with deterministic tiebreaks.
    Q("q_window_lag_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        val wr = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
        t(s, dir, "events").select(col("event_id"), col("event_type"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          rank().over(wr).as("value_rank"))
      },
      Some("""SELECT event_id, event_type,
        lag(event_id, 1) OVER (PARTITION BY event_type ORDER BY event_id) AS prev_id,
        lead(event_id, 1) OVER (PARTITION BY event_type ORDER BY event_id) AS next_id,
        rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS value_rank
        FROM events""")),

    // Top-k: Spark plans TakeOrderedAndProject — per-partition heap,
    // no full sort (the 100 TB-safe top-k).
    Q("q_topk_orders",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Grouped top-k: 3 highest-value events per user (WindowGroupLimit
    // keeps k rows per key map-side before the shuffle).
    Q("q_topk_per_key",
      (s, dir) => graft.ops.Dedup.topKPerKey(t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value")),
        Seq("user_id"), "value", "event_id", k = 3),
      Some("""SELECT user_id, event_id, value,
        row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) <= 3""")),

    // Hierarchical rollup with subtotal rows.
    Q("q_rollup_region",
      (s, dir) => {
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
      },
      Some("""SELECT r_name, n_name, COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)""")),

    // Left-semi join (EXISTS).
    Q("q_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // Left-anti join (NOT EXISTS) with a filtered right side.
    Q("q_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderpriority").startsWith("1-"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1-%')""")),

    // Set op: UNION DISTINCT across two sources.
    Q("q_union_nations",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
        c.union(sup).distinct()
      },
      Some("""SELECT DISTINCT nk FROM
        (SELECT c_nationkey AS nk FROM customer
         UNION ALL SELECT s_nationkey AS nk FROM supplier)""")),

    // Aggregation battery: count / distinct / min / max / exact mean.
    Q("q_agg_stats",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value")),
      Some("""SELECT event_type, COUNT(*) AS n,
        COUNT(DISTINCT user_id) AS n_users,
        MIN(value) AS min_value, MAX(value) AS max_value,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events GROUP BY event_type""")),

    // Approximate distinct (HLL) — the 100 TB cardinality path; sketch
    // values are engine-specific so the driver records rows-only.
    Q("q_agg_approx_distinct",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n")),
      None),

    // Oracle-able HLL check: the sketch VALUE is engine-specific, but
    // "within 10% of exact" is a hard cross-engine claim (rsd=0.02 →
    // 10% is 5σ; at these cardinalities HLL++ sparse mode is exact).
    Q("q_agg_approx_distinct_check",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
          countDistinct(col("user_id")).as("n_users_exact"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("approx") - col("n_users_exact")).cast("double")
            / col("n_users_exact") <= 0.1).as("hll_within_10pct")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
        TRUE AS hll_within_10pct FROM events GROUP BY event_type""")),

    // Mergeable-sketch distinct rollup (Sketches.hllPartials/hllRollup):
    // ONE fact pass builds per-nation DataSketches HLL sketches; region
    // AND global cardinalities then come from chained sketch UNIONS —
    // no rescan, the 100 TB cube pattern. The sketch VALUE is
    // engine-specific, so the oracle pins the exact counts plus the
    // "estimate within 5% of exact" claim (lgK=12 → ~1.6% standard
    // error; 5% is ~3σ, and at sf cardinalities the sketch is near
    // exact). Exact region/global counts ride the disjointness of
    // nations (each customer has one nation), so they too are one pass.
    Q("q_agg_hll_rollup_check",
      (s, dir) => {
        val facts = t(s, dir, "orders").select(col("o_custkey"))
          .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
        val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
        val r = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        val perNation = facts.groupBy(col("c_nationkey"))
          .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("hll_sketch"),
            countDistinct(col("o_custkey")).as("exact_n"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        val perRegion = graft.ops.Sketches.hllRollup(
            perNation.select(col("n_regionkey"), col("hll_sketch")), Seq("n_regionkey"))
          .join(perNation.groupBy(col("n_regionkey").as("_rk"))
              .agg(sum(col("exact_n")).as("n_cust_exact")),
            col("n_regionkey") === col("_rk"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        val globalSk = graft.ops.Sketches.hllRollup(
          perRegion.select(col("hll_sketch")), Nil)
        val global = globalSk.crossJoin(
            perRegion.agg(sum(col("n_cust_exact")).as("n_cust_exact")))
          .withColumn("r_name", lit("ALL"))
        val claim = (abs(hll_sketch_estimate(col("hll_sketch")).cast("double")
          - col("n_cust_exact")) / col("n_cust_exact") <= 0.05).as("hll_within_5pct")
        perRegion.select(col("r_name"), col("n_cust_exact"), claim)
          .unionByName(global.select(col("r_name"), col("n_cust_exact"), claim))
      },
      Some("""WITH f AS (SELECT o_custkey, c_nationkey FROM orders
          JOIN customer ON o_custkey = c_custkey),
        reg AS (SELECT r_name, COUNT(DISTINCT o_custkey) AS n_cust_exact
          FROM f JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey GROUP BY r_name),
        tot AS (SELECT 'ALL' AS r_name, COUNT(DISTINCT o_custkey) AS n_cust_exact
          FROM f)
        SELECT r_name, n_cust_exact, TRUE AS hll_within_5pct FROM reg
        UNION ALL SELECT r_name, n_cust_exact, TRUE FROM tot""")),

    // Data contracts (Expectations.check): 7 rule types over lineitem
    // in one report — row-local rules fold into ONE aggregate pass,
    // unique adds a keyed groupBy, ref_integrity one anti-join. The
    // in_range rule is deliberately violated (l_quantity tops out at
    // 50) so the report proves it counts, not just passes.
    Q("q_expectations",
      (s, dir) => {
        import graft.ops.Expectations._
        check(t(s, dir, "lineitem"), Seq(
          NotNull("l_orderkey"),
          InRange("l_quantity", 1.0, 30.0),
          AcceptedValues("l_returnflag", Seq("A", "N", "R")),
          MatchesRegex("l_linestatus", "^[OF]$"),
          Satisfies("l_extendedprice >= 0", "nonneg_price"),
          Unique(Seq("l_orderkey", "l_linenumber")),
          RefIntegrity("l_orderkey", t(s, dir, "orders"), "o_orderkey")))
      },
      Some(expectationsOracle)),

    // Mergeable histogram rollup (Sketches.histogramPartials/Rollup/
    // Quantiles) — the quantile member of the mergeable-summary family:
    // one fact pass builds per-event_type bucket counts; p50/p95 per
    // type AND globally read off the partials with no rescan, exact to
    // bucket width and integer-arithmetic oracled at both levels.
    Q("q_hist_rollup",
      (s, dir) => {
        val parts = graft.ops.Sketches.histogramPartials(
          t(s, dir, "events"), Seq("event_type"), "value", 0.0, 1000.0, 100)
        val per = graft.ops.Sketches.histogramQuantiles(
          parts, Seq("event_type"), Seq(0.5, 0.95), 0.0, 1000.0, 100)
        val global = graft.ops.Sketches.histogramQuantiles(
            graft.ops.Sketches.histogramRollup(parts, Nil), Nil,
            Seq(0.5, 0.95), 0.0, 1000.0, 100)
          .withColumn("event_type", lit("ALL"))
        per.unionByName(global.select(per.columns.map(col).toIndexedSeq: _*))
      },
      Some("""WITH p AS (SELECT event_type,
          greatest(0, least(99, CAST(floor(
            (CAST(value AS DOUBLE) - 0.0) * 100 / 1000.0) AS BIGINT))) AS bucket,
          count(*) AS cnt
          FROM events WHERE value IS NOT NULL AND NOT isnan(value)
          GROUP BY 1, 2),
        lv AS (SELECT event_type, bucket, cnt FROM p
          UNION ALL
          SELECT 'ALL', bucket, sum(cnt) FROM p GROUP BY 2),
        c AS (SELECT *,
          sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(cnt) OVER (PARTITION BY event_type) AS n FROM lv),
        x AS (SELECT *, unnest([500000, 950000]) AS q_micro FROM c),
        f AS (SELECT event_type, q_micro, min(bucket) AS bucket, max(n) AS n
          FROM x
          WHERE cum >= CAST(ceil(CAST(q_micro AS DOUBLE) * n / 1000000.0) AS BIGINT)
          GROUP BY 1, 2)
        SELECT event_type, q_micro, CAST(n AS BIGINT) AS n, bucket,
          0.0 + bucket * 10.0 AS bucket_lo,
          0.0 + (bucket + 1) * 10.0 AS bucket_hi
        FROM f""")),

    // KMV (k-minimum-values) audience overlap — the mergeable sketch
    // HLL can't be: the union's k smallest hashes are a uniform sample
    // on which A/B membership is exact, giving Jaccard and
    // INTERSECTION estimates between every event_type pair from one
    // sketch-sized table (k rows per group, never data-sized). The
    // md5-portable face is integer-exact end to end (52-bit hash
    // prefix, floor()-not-cast everywhere), so the WHOLE estimator —
    // not just a tolerance claim — hash-matches DuckDB.
    // Not benched: md5 oracle twin of the benched q_kmv_overlap_x64.
    Q("q_kmv_overlap",
      (s, dir) => {
        val sk = graft.ops.Sketches.kmvSketch(
          t(s, dir, "events"), "event_type", "user_id", k = 256,
          portableHashing = true)
        graft.ops.Sketches.kmvOverlap(sk, k = 256)
      },
      Some("""WITH s0 AS (SELECT DISTINCT event_type AS g,
          md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        sk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
          FROM s0 QUALIFY rk <= 256),
        gs AS (SELECT DISTINCT g FROM sk),
        pr AS (SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b WHERE a.g < b.g),
        m AS (SELECT g1, g2, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
            SELECT p.g1, p.g2, s.h, 1 AS in_a, 0 AS in_b
              FROM pr p JOIN sk s ON s.g = p.g1
            UNION ALL
            SELECT p.g1, p.g2, s.h, 0, 1 FROM pr p JOIN sk s ON s.g = p.g2)
          GROUP BY g1, g2, h),
        kept AS (SELECT *, row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rk
          FROM m QUALIFY rk <= 256),
        agg AS (SELECT g1, g2, count(*) AS n_union_sketch,
            CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS common_k,
            max(h) AS kth FROM kept GROUP BY g1, g2),
        est AS (SELECT g1, g2, n_union_sketch, common_k,
            CASE WHEN n_union_sketch < 256 THEN n_union_sketch
                 ELSE CAST(floor(255.0 * 4503599627370496.0 / greatest(
                   CAST(list_sum(list_transform(generate_series(1, 13),
                     i -> CAST(strpos('0123456789abcdef',
                            substr(kth, CAST(i AS INT), 1)) - 1 AS BIGINT)
                          << (4 * (13 - CAST(i AS INT))))) AS BIGINT), 1))
                   AS BIGINT) END AS est_union
          FROM agg),
        j AS (SELECT *, CAST(floor(common_k * 1000000.0
            / least(256, n_union_sketch)) AS BIGINT) AS jaccard_micro FROM est)
        SELECT g1, g2, n_union_sketch, common_k, est_union, jaccard_micro,
          CAST(floor(jaccard_micro * est_union / 1000000.0) AS BIGINT)
            AS est_intersection
        FROM j"""), benched = false),

    // The xxhash64 scale twin of the same estimator (rows-only: DuckDB
    // has no xxhash64; the algorithm is hash-verified via the md5 face).
    Q("q_kmv_overlap_x64",
      (s, dir) => {
        val sk = graft.ops.Sketches.kmvSketch(
          t(s, dir, "events"), "event_type", "user_id", k = 256)
        graft.ops.Sketches.kmvOverlap(sk, k = 256)
      },
      None),

    // Approx-quantile check (the q_agg_approx_distinct_check pattern):
    // the GK sketch VALUE is engine-specific, but "within 5% of the
    // exact interpolated percentile" is a hard cross-engine claim —
    // and at this cardinality/accuracy the sketch is exact, so the
    // claim holds with slack. Backs Sampling.quantileBuckets.
    Q("q_quantile_check",
      (s, dir) => {
        val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
        t(s, dir, "documents")
          .agg(expr(s"percentile_approx(n_chars, array(${qs.mkString(",")}), 10000)").as("ap"),
            expr(s"percentile(n_chars, array(${qs.mkString(",")}))").as("ex"))
          .select(posexplode(arrays_zip(
            col("ap").cast("array<double>").as("ap"), col("ex").as("ex"))))
          .select(
            (element_at(array(qs.map(lit): _*), col("pos") + 1) * lit(1000000))
              .cast("long").as("q_micro"),
            col("col.ex").as("exact"),
            (abs(col("col.ap") - col("col.ex")) / col("col.ex") <= 0.05)
              .as("approx_within_5pct"))
      },
      Some("""SELECT 100000 AS q_micro, quantile_cont(n_chars, 0.1) AS exact,
          TRUE AS approx_within_5pct FROM documents
        UNION ALL SELECT 250000, quantile_cont(n_chars, 0.25), TRUE FROM documents
        UNION ALL SELECT 500000, quantile_cont(n_chars, 0.5), TRUE FROM documents
        UNION ALL SELECT 750000, quantile_cont(n_chars, 0.75), TRUE FROM documents
        UNION ALL SELECT 900000, quantile_cont(n_chars, 0.9), TRUE FROM documents""")),

    // Exact percentiles (linear interpolation — matches quantile_cont).
    Q("q_percentiles",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"),
          expr("percentile(value, 0.9)").as("p90")),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS med,
        quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type""")),

    // Pivot: rows -> columns on a known category set (decimal-exact).
    Q("q_pivot_events",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(dec(col("value"))).cast("double"))
        .na.fill(0.0),
      Some("""SELECT user_id,
        COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (event_type = 'click') AS DOUBLE), 0.0) AS click,
        COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (event_type = 'view') AS DOUBLE), 0.0) AS view,
        COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (event_type = 'purchase') AS DOUBLE), 0.0) AS purchase,
        COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (event_type = 'signup') AS DOUBLE), 0.0) AS signup,
        COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (event_type = 'error') AS DOUBLE), 0.0) AS error
        FROM events GROUP BY user_id""")),

    // Deterministic collect: sorted distinct list rendered as a string.
    Q("q_collect_sorted",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n")),
      Some("""SELECT user_id,
        array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        COUNT(*) AS n FROM events GROUP BY user_id""")),

    // As-of join: each click joined to the user's most recent prior
    // purchase — union + window LOCF, one sort-merge, no point lookups.
    Q("q_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts")).orderBy(col("p_id").desc)
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"), col("event_id").as("p_id"))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
        graft.ops.TimeJoins.asofJoin(clicks, purch, Seq("user_id"), "ts", "ts",
          Seq("value", "p_id"))
          .select(col("event_id"), col("user_id"),
            col("asof_value"), col("asof_p_id"))
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        purch AS (SELECT user_id, ts, value, event_id AS p_id FROM events
          WHERE event_type = 'purchase'
          QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        SELECT c.event_id, c.user_id, p.value AS asof_value, p.p_id AS asof_p_id
        FROM clicks c ASOF LEFT JOIN purch p
          ON c.user_id = p.user_id AND c.ts >= p.ts""")),

    // Banded range join: same-user event pairs within a 1-hour window,
    // binned so each row probes two buckets (never a cross join).
    Q("q_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
        val b = ev.select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
        graft.ops.TimeJoins.bandedRangeJoin(a, b, Seq("user_id"), "a_ts", "b_ts", 3600L)
          .filter(col("a_ts") < col("b_ts") ||
            (col("a_ts") === col("b_ts") && col("a_id") < col("b_id")))
          .select(col("a_id"), col("b_id"))
      },
      Some("""SELECT a.event_id AS a_id, b.event_id AS b_id
        FROM events a JOIN events b ON a.user_id = b.user_id
          AND b.ts >= a.ts
          AND CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) <= 3600
          AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))""")),

    // Gap-based sessionization + per-session aggregates.
    Q("q_sessionize",
      (s, dir) => graft.ops.Sessions.sessionStats(t(s, dir, "events"),
        "user_id", "ts", "value", gapSeconds = 3600, tiebreak = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
               THEN 1 ELSE 0 END AS ns
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (SELECT user_id, ts, value,
          CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM x)
        SELECT user_id, session_idx, COUNT(*) AS n_events,
          CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS span_secs,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM y GROUP BY user_id, session_idx""")),

    // Top session paths (behavioral flow mining): first-5-steps path
    // per gap session, corpus-wide top-50 with deterministic rank.
    Q("q_session_paths",
      (s, dir) => graft.ops.Sessions.sessionPaths(t(s, dir, "events"),
        "user_id", "ts", "event_type", gapSeconds = 3600, maxSteps = 5,
        topK = 50, tiebreak = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id, ts, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
               THEN 1 ELSE 0 END AS ns
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (SELECT user_id, event_id, ts, event_type,
          CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM x),
        p AS (SELECT user_id, session_idx,
            array_to_string(list_slice(
              list(event_type ORDER BY ts, event_id, event_type), 1, 5), '>') AS path
          FROM y GROUP BY 1, 2),
        c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
          ORDER BY n_sessions DESC, path LIMIT 50)
        SELECT path, n_sessions,
          CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) AS rank
        FROM c""")),

    // Entry-type bounce report: per session entry event, sessions
    // started and single-event (bounce) share in basis points.
    Q("q_bounce_report",
      (s, dir) => graft.ops.Sessions.bounceReport(t(s, dir, "events"),
        "user_id", "ts", "event_type", gapSeconds = 3600,
        tiebreak = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id, ts, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
               THEN 1 ELSE 0 END AS ns
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (SELECT user_id, event_id, ts, event_type,
          CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM x),
        s AS (SELECT user_id, session_idx,
            list(event_type ORDER BY ts, event_id, event_type)[1] AS entry_type,
            COUNT(*) AS n
          FROM y GROUP BY 1, 2)
        SELECT entry_type, COUNT(*) AS n_sessions,
          CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) AS n_bounces,
          CAST(COUNT(*) FILTER (WHERE n = 1) * 10000 // COUNT(*) AS BIGINT) AS bounce_bp
        FROM s GROUP BY 1""")),

    // Join-key skew diagnostic: per-key count histogram in log2
    // buckets — the report that decides whether salting is needed.
    Q("q_skew_report",
      (s, dir) => graft.ops.Skew.skewReport(t(s, dir, "events"), "user_id"),
      Some("""WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        SELECT CAST(length(bin(n)) AS INT) AS count_bits, COUNT(*) AS n_keys,
          CAST(SUM(n) AS BIGINT) AS n_rows, MIN(n) AS min_count, MAX(n) AS max_count
        FROM c GROUP BY 1""")),

    // Salted two-phase aggregation (hot-key mitigation; same result as
    // a direct group-by, so the oracle is the direct form).
    Q("q_skew_salted_agg",
      (s, dir) => graft.ops.Skew.saltedAgg(t(s, dir, "events"),
        Seq("event_type"), Map("total_value" -> col("value"))),
      Some("""SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value,
        COUNT(*) AS n FROM events GROUP BY event_type""")),

    // Salted skewed JOIN (hot fact keys spread over `buckets` reducers;
    // the salt must be result-invisible, so the oracle is the plain
    // join). Fact key = user_id%5 concentrates the whole events table
    // onto 5 keys — the post-explode-style skew AQE can't always see.
    Q("q_skew_salted_join",
      (s, dir) => {
        val fact = t(s, dir, "events").select(
          pmod(col("user_id"), lit(5)).as("k"), col("event_id"), col("value"))
        val dim = t(s, dir, "nation")
          .filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("k"), col("n_name"))
        graft.ops.Skew.saltedJoin(fact, dim, Seq("k"))
          .select(col("event_id"), col("k"), col("n_name"), col("value"))
      },
      Some("""SELECT e.event_id, e.user_id % 5 AS k, n.n_name, e.value
        FROM events e JOIN nation n ON e.user_id % 5 = n.n_nationkey""")),

    // Grouping-sets cube over two dims.
    Q("q_cube_status",
      (s, dir) => t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // Ordered funnel view -> click -> purchase: first-completion
    // timestamps per user, each step strictly after the previous.
    // One shuffle (HOF fold over the sorted per-user step events);
    // the oracle is the equivalent min-ts chain.
    Q("q_funnel",
      (s, dir) => graft.ops.Funnels.funnel(t(s, dir, "events"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .select(col("user_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us")),
      Some("""WITH base AS (SELECT DISTINCT user_id FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        SELECT base.user_id, epoch_us(t1) AS view_us, epoch_us(t2) AS click_us,
          epoch_us(t3) AS purchase_us
        FROM base LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)""")),

    // Funnel drop-off: per-step reach + step-over-step conversion in
    // integral micros over the exact chain counts.
    Q("q_funnel_dropoff",
      (s, dir) => graft.ops.Funnels.funnelDropoff(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
          (SELECT COUNT(*) FROM s2) AS n2, (SELECT COUNT(*) FROM s3) AS n3)
        SELECT 1 AS step_idx, 'view' AS step, n1 AS n_reached,
          CASE WHEN n1 > 0 THEN (n1 * 1000000) // n1 END AS reach_micro,
          CAST(NULL AS BIGINT) AS conv_micro FROM n
        UNION ALL SELECT 2, 'click', n2,
          CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1 END,
          CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1 END FROM n
        UNION ALL SELECT 3, 'purchase', n3,
          CASE WHEN n1 > 0 THEN (n3 * 1000000) // n1 END,
          CASE WHEN n2 > 0 THEN (n3 * 1000000) // n2 END FROM n""")),

    // Burstiness index per user (Goh-Barabasi): B = (sd-mean)/(sd+mean)
    // over inter-event gaps — exact moment sums, stated IEEE closing.
    Q("q_burstiness",
      (s, dir) => graft.ops.Funnels.burstiness(
        t(s, dir, "events"), "user_id", "ts", "event_id"),
      Some("""WITH o AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT)
            - lag(CAST(floor(epoch(ts)) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events),
        a AS (SELECT user_id, COUNT(*) AS n_gaps,
            CAST(SUM(gap) AS BIGINT) AS s,
            SUM(CAST(gap AS HUGEINT) * gap) AS q
          FROM o WHERE gap IS NOT NULL GROUP BY user_id
          HAVING COUNT(*) >= 2),
        b AS (SELECT user_id, n_gaps,
            CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap,
            sqrt((CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))) AS sd_gap
          FROM a)
        SELECT user_id, n_gaps, mean_gap, sd_gap,
          CASE WHEN sd_gap + mean_gap > 0
               THEN (sd_gap - mean_gap) / (sd_gap + mean_gap) END AS burstiness
        FROM b""")),

    // Inter-event gap histogram in log2 buckets (integer bit-length
    // bucketing): the human-vs-robot cadence fingerprint.
    Q("q_gap_histogram",
      (s, dir) => graft.ops.Funnels.gapHistogram(
        t(s, dir, "events"), "user_id", "ts", "event_id"),
      Some("""WITH o AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep,
          CAST(floor(epoch(ts)) AS BIGINT)
            - lag(CAST(floor(epoch(ts)) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events)
        SELECT CAST(length(bin(gap)) AS INTEGER) AS gap_bits, COUNT(*) AS n,
          min(gap) AS min_gap_secs, max(gap) AS max_gap_secs
        FROM o WHERE gap IS NOT NULL GROUP BY 1""")),

    // Step-to-step conversion latency over the same 3-step funnel:
    // integral-micro mean + min/max seconds per consecutive pair.
    Q("q_funnel_latency",
      (s, dir) => graft.ops.Funnels.funnelLatency(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        f AS (SELECT s1.user_id, t1, t2, t3 FROM s1
          LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        lat AS (
          SELECT 'view' AS step_from, 'click' AS step_to,
            CAST(floor(epoch(t2)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) AS secs
          FROM f WHERE t2 IS NOT NULL
          UNION ALL
          SELECT 'click', 'purchase',
            CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t2)) AS BIGINT)
          FROM f WHERE t3 IS NOT NULL)
        SELECT step_from, step_to, COUNT(*) AS n_converted,
          CAST(SUM(secs) * 1000000 // COUNT(*) AS BIGINT) AS mean_secs_micro,
          MIN(secs) AS min_secs, MAX(secs) AS max_secs
        FROM lat GROUP BY 1, 2""")),

    // JSON property extraction (events.props is a JSON string):
    // typed get_json_object pull + per-type aggregate. Row-local
    // parse before the one agg shuffle.
    Q("q_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type,
          COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
          CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
          MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY 1""")),

    // Last-touch attribution: each purchase's value credited to the
    // most recent click/view strictly before it in the user's
    // (ts, event_id) order; no prior touch -> the 'none' channel.
    Q("q_attribution",
      (s, dir) => graft.ops.Funnels.attribution(t(s, dir, "events"),
        "user_id", "ts", "event_type", "value",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        tiebreak = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, ts, event_id, event_type, value,
          last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
            IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
          FROM events WHERE event_type IN ('click', 'view', 'purchase'))
        SELECT COALESCE(touch, 'none') AS channel, COUNT(*) AS n_conversions,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value
        FROM x WHERE event_type = 'purchase' GROUP BY 1""")),

    // Column profiling report (row/null/distinct counts + string-cast
    // min/max) over customer's portable-cast columns — integers and
    // strings only; float casts format engine-specifically.
    Q("q_profile",
      (s, dir) => graft.ops.Profile.profileColumns(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey")),
      Some("""SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows,
          COUNT(*) - COUNT(v) AS n_null, COUNT(DISTINCT v) AS n_distinct,
          MIN(v) AS min_val, MAX(v) AS max_val
        FROM (SELECT CAST(c_custkey AS VARCHAR) AS v FROM customer)
        UNION ALL SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(v), COUNT(DISTINCT v), MIN(v), MAX(v)
        FROM (SELECT CAST(c_name AS VARCHAR) AS v FROM customer)
        UNION ALL SELECT 'c_mktsegment', COUNT(*), COUNT(*) - COUNT(v), COUNT(DISTINCT v), MIN(v), MAX(v)
        FROM (SELECT CAST(c_mktsegment AS VARCHAR) AS v FROM customer)
        UNION ALL SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(v), COUNT(DISTINCT v), MIN(v), MAX(v)
        FROM (SELECT CAST(c_nationkey AS VARCHAR) AS v FROM customer)""")),

    // k-anonymity audit over the (nation, segment) quasi-identifier:
    // equivalence-class sizes + at-risk verdict at k=10.
    Q("q_k_anonymity",
      (s, dir) => graft.ops.Profile.kAnonymity(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10),
      Some("""SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size,
          COUNT(*) < 10 AS at_risk
        FROM customer GROUP BY 1, 2""")),

    // Edit-distance-1 near-dup pairs on customer names (entity
    // resolution / typo-variant matching) via FastSS deletion-variant
    // blocking — exact for d=1, so the brute-force O(n²) levenshtein
    // oracle is the same pair set the blocked path produces.
    Q("q_edit_pairs",
      (s, dir) => graft.ops.Dedup.editDistancePairs(
        t(s, dir, "customer"), "c_custkey", "c_name"),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1""")),

    // Cohort retention: first-active-day cohorts x day offset. The
    // distinct (user, day) collapse is the only event-volume shuffle.
    Q("q_retention",
      (s, dir) => graft.ops.Funnels.retention(t(s, dir, "events"),
        "user_id", "ts", maxOffsetDays = 30),
      Some("""WITH days AS (SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d
          FROM events),
        first AS (SELECT k, min(d) AS d0 FROM days GROUP BY 1)
        SELECT strftime(d0, '%Y-%m-%d') AS cohort_day,
          CAST(date_diff('day', d0, d) AS INT) AS day_offset,
          COUNT(*) AS n_users
        FROM days JOIN first USING (k)
        WHERE date_diff('day', d0, d) <= 30
        GROUP BY 1, 2""")),

    // Markov transition matrix over per-user event sequences: counts +
    // conditional probability in integer micros (integral division —
    // exact cross-engine). One event-volume shuffle (the lag window).
    Q("q_event_transitions",
      (s, dir) => graft.ops.Funnels.eventTransitions(t(s, dir, "events"),
        "user_id", "ts", "event_type", tiebreak = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
        c AS (SELECT prev AS prev_type, event_type AS next_type, COUNT(*) AS n
          FROM x WHERE prev IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, next_type, n,
          CAST(n * 1000000 // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_micro
        FROM c""")),

    // Daily-rate spike detection: |c - mean| > 2 sigma evaluated as the
    // EXACT integer inequality (n*c - S)^2 > 4 (n*Q - S^2) — no FP at
    // all, so the verdict column is hash-comparable cross-engine.
    Q("q_rate_anomalies",
      (s, dir) => graft.ops.Funnels.rateAnomalies(t(s, dir, "events"),
        "event_type", "ts", z = 2),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        s AS (SELECT event_type, d, n,
            COUNT(*) OVER w AS nd,
            CAST(SUM(n) OVER w AS BIGINT) AS sm,
            SUM(CAST(n AS HUGEINT) * n) OVER w AS q
          FROM d WINDOW w AS (PARTITION BY event_type))
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
          CAST(CAST(sm AS HUGEINT) * 1000000 // nd AS BIGINT) AS mean_micro,
          (CAST(nd AS HUGEINT) * n - sm) * (CAST(nd AS HUGEINT) * n - sm)
            > 4 * (CAST(nd AS HUGEINT) * q - CAST(sm AS HUGEINT) * sm) AS is_anomaly
        FROM s""")),

    // Exact ROC-AUC (Mann-Whitney with average-rank ties) of value
    // predicting purchase, in integral micros — ranks from cumulative
    // counts over the distinct-score relation, no row sort, no FP.
    Q("q_auc",
      (s, dir) => graft.ops.Stats.auc(
        t(s, dir, "events")
          .withColumn("label", (col("event_type") === "purchase").cast("int")),
        "value", "label"),
      Some("""WITH b AS (SELECT value AS s,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        p AS (SELECT s, COUNT(*) AS ties, CAST(SUM(y) AS BIGINT) AS pos
          FROM b GROUP BY s),
        e AS (SELECT *, coalesce(SUM(ties) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM p),
        a AS (SELECT SUM(CAST(pos AS HUGEINT) * (2 * (below + 1) + ties - 1)) AS s2,
          CAST(SUM(pos) AS BIGINT) AS n_pos,
          CAST(SUM(ties) - SUM(pos) AS BIGINT) AS n_neg FROM e)
        SELECT n_pos, n_neg,
          CASE WHEN n_pos > 0 AND n_neg > 0 THEN
            CAST((s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
              // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) END AS auc_micro,
          CASE WHEN n_pos > 0 AND n_neg > 0 THEN
            CAST((s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
              // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) * 2 - 1000000
          END AS gini_micro
        FROM a""")),

    // Train-ready churn labels with a leakage-disciplined temporal
    // split: features from the first 20 days only, label = silent in
    // the last 7 days — the windows never touch.
    Q("q_churn_labels",
      (s, dir) => graft.ops.Rfm.churnLabels(t(s, dir, "events"),
        "user_id", "ts", "value", "event_type", featureDays = 20, labelDays = 7),
      Some("""WITH b AS (SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS mn,
            max(CAST(floor(epoch(ts)) AS BIGINT)) AS mx FROM events),
        e AS (SELECT user_id, event_type, value,
            CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        f AS (SELECT user_id, COUNT(*) AS frequency,
            CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary,
            COUNT(DISTINCT event_type) AS n_event_types,
            max((ep - mn) // 86400) AS last_seen_day
          FROM e CROSS JOIN b WHERE ep < mn + 20 * 86400 GROUP BY user_id),
        a AS (SELECT DISTINCT user_id FROM e CROSS JOIN b
          WHERE ep >= mx - 7 * 86400 + 1)
        SELECT f.user_id, frequency, monetary, n_event_types, last_seen_day,
          a.user_id IS NULL AS churned
        FROM f LEFT JOIN a ON f.user_id = a.user_id""")),

    // EXACT p50/p95/p99 per event type (nearest rank): distinct-value
    // cumulative counts, never a global sort, never a sketch.
    Q("q_exact_percentiles",
      (s, dir) => graft.ops.Stats.exactPercentiles(
        t(s, dir, "events"), "value", Seq("event_type")),
      Some("""WITH v AS (SELECT event_type,
          CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
          FROM events WHERE value IS NOT NULL),
        pv AS (SELECT event_type, m, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
        cm AS (SELECT event_type, m, cnt,
            SUM(cnt) OVER (PARTITION BY event_type ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY event_type) AS n
          FROM pv),
        x AS (SELECT event_type, m, cnt, cum, n,
            unnest([500000, 950000, 990000]) AS p_micro FROM cm),
        r AS (SELECT *, (n * p_micro + 999999) // 1000000 AS rk FROM x)
        SELECT event_type, CAST(p_micro AS BIGINT) AS p_micro,
          CAST(n AS BIGINT) AS n, m AS value_units,
          CAST(m AS DOUBLE) / 10000 AS value
        FROM r WHERE cum >= rk AND cum - cnt < rk""")),

    // Reliability (calibration) bins: equi-width score bins with exact
    // mean score + positive rate in micros.
    Q("q_reliability",
      (s, dir) => graft.ops.Stats.reliability(
        t(s, dir, "events")
          .withColumn("label", (col("event_type") === "purchase").cast("int")),
        "value", "label", nBins = 10),
      Some("""WITH b AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        mm AS (SELECT min(m) AS mn, max(m) AS mx FROM b),
        d AS (SELECT least(9, ((m - mn) * 10) // (mx - mn + 1)) AS bin, m, y
          FROM b CROSS JOIN mm)
        SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n,
          CAST((SUM(CAST(m AS HUGEINT)) * 100) // COUNT(*) AS BIGINT) AS mean_score_micro,
          (CAST(SUM(y) AS BIGINT) * 1000000) // COUNT(*) AS pos_rate_micro
        FROM d GROUP BY bin""")),

    // Confusion matrix + precision/recall/F1 at three thresholds,
    // exact integral micros end to end.
    Q("q_confusion",
      (s, dir) => graft.ops.Stats.confusion(
        t(s, dir, "events")
          .withColumn("label", (col("event_type") === "purchase").cast("int")),
        "value", "label", thresholds = Seq(BigDecimal(50), BigDecimal(100), BigDecimal(200))),
      Some("""WITH b AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        x AS (SELECT m, y, unnest([500000, 1000000, 2000000]) AS t FROM b),
        c AS (SELECT t AS threshold_units,
          CAST(SUM(CASE WHEN m >= t THEN y ELSE 0 END) AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN m >= t THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN m < t THEN 1 - y ELSE 0 END) AS BIGINT) AS tn,
          CAST(SUM(CASE WHEN m < t THEN y ELSE 0 END) AS BIGINT) AS fn
          FROM x GROUP BY t)
        SELECT threshold_units, tp, fp, tn, fn,
          CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS precision_micro,
          CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS recall_micro,
          CASE WHEN 2 * tp + fp + fn > 0
               THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_micro
        FROM c""")),

    // Rolling 7-day bands over daily counts per type: the windowed
    // form of the exact integer z-test (trailing-window population).
    Q("q_rolling_bands",
      (s, dir) => graft.ops.Funnels.rollingBands(t(s, dir, "events"),
        "event_type", "ts", k = 7, z = 2),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        s AS (SELECT event_type, d, n,
            COUNT(*) OVER w AS nw,
            CAST(SUM(n) OVER w AS BIGINT) AS sm,
            SUM(CAST(n AS HUGEINT) * n) OVER w AS q
          FROM d WINDOW w AS (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
          nw AS n_window,
          CAST(CAST(sm AS HUGEINT) * 1000000 // nw AS BIGINT) AS mean_micro,
          (CAST(nw AS HUGEINT) * n - sm) * (CAST(nw AS HUGEINT) * n - sm)
            > 4 * (CAST(nw AS HUGEINT) * q - CAST(sm AS HUGEINT) * sm) AS is_outlier
        FROM s""")),

    // Composition: EXACT p50/p95/p99 of session durations — the
    // sessionizer's output fed straight into the exact-percentile
    // operator (scale = 0: durations are integer seconds).
    Q("q_session_percentiles",
      (s, dir) => graft.ops.Stats.exactPercentiles(
        graft.ops.Sessions.sessionStats(t(s, dir, "events"),
          "user_id", "ts", "value", gapSeconds = 3600, tiebreak = Seq("event_id"))
          .withColumn("g", lit("all")),
        "span_secs", Seq("g"), scale = 0),
      Some("""WITH x AS (SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
               THEN 1 ELSE 0 END AS ns
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (SELECT user_id, ts,
          CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM x),
        sess AS (SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT)
            - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS m
          FROM y GROUP BY user_id, session_idx),
        pv AS (SELECT m, COUNT(*) AS cnt FROM sess GROUP BY m),
        cm AS (SELECT m, cnt,
            SUM(cnt) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum,
            SUM(cnt) OVER () AS n FROM pv),
        px AS (SELECT *, unnest([500000, 950000, 990000]) AS p_micro FROM cm),
        r AS (SELECT *, (n * p_micro + 999999) // 1000000 AS rk FROM px)
        SELECT 'all' AS g, CAST(p_micro AS BIGINT) AS p_micro,
          CAST(n AS BIGINT) AS n, m AS value_units, CAST(m AS DOUBLE) AS value
        FROM r WHERE cum >= rk AND cum - cnt < rk""")),

    // Revenue concentration: exact Gini over per-user revenue (one
    // integral division; rank window on the user relation).
    Q("q_revenue_gini",
      (s, dir) => graft.ops.Stats.concentration(
        t(s, dir, "events"), "user_id", "value"),
      Some("""WITH pk AS (SELECT user_id AS k,
          SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS HUGEINT)) AS x
          FROM events WHERE value IS NOT NULL GROUP BY user_id),
        r AS (SELECT k, x, row_number() OVER (ORDER BY x, k) AS i FROM pk),
        a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * i) AS six FROM r)
        SELECT n AS n_keys, CAST(sx * 100 AS DOUBLE) AS total_micro,
          CASE WHEN sx > 0 THEN CAST(((CAST(2 AS HUGEINT) * six - (n + 1) * sx)
            * 1000000) // (CAST(n AS HUGEINT) * sx) AS BIGINT) END AS gini_micro
        FROM a""")),

    // Cohort LTV curve (retention's monetary companion): per
    // (first-active-day cohort, day offset) revenue, cumulative
    // revenue, and cumulative per-user LTV in integral micros.
    Q("q_cohort_ltv",
      (s, dir) => graft.ops.Funnels.cohortLtv(t(s, dir, "events"),
        "user_id", "ts", "value", maxOffsetDays = 35),
      Some("""WITH kd AS (SELECT user_id AS k, CAST(ts AS DATE) AS d,
          SUM(CAST(value AS DECIMAL(18,4))) AS dv FROM events GROUP BY 1, 2),
        wc AS (SELECT *, min(d) OVER (PARTITION BY k) AS d0 FROM kd),
        o AS (SELECT k, d0, date_diff('day', d0, d) AS day_offset, dv
          FROM wc WHERE date_diff('day', d0, d) <= 35),
        cs AS (SELECT d0, COUNT(*) AS cohort_n FROM o WHERE day_offset = 0
          GROUP BY d0),
        cells AS (SELECT d0, day_offset,
          CAST(SUM(dv) * 10000 AS HUGEINT) AS rev_units FROM o GROUP BY 1, 2),
        cc AS (SELECT cells.*, cohort_n,
            SUM(rev_units) OVER (PARTITION BY d0 ORDER BY day_offset
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM cells JOIN cs USING (d0))
        SELECT strftime(d0, '%Y-%m-%d') AS cohort_day, day_offset, cohort_n,
          CAST(rev_units * 100 AS DOUBLE) AS revenue_micro,
          CAST(cum * 100 AS DOUBLE) AS cum_revenue_micro,
          CAST((cum * 100) // cohort_n AS BIGINT) AS ltv_per_user_micro
        FROM cc""")),

    // Seasonal (dow x hour) anomalies: each (type, date, hour) cell
    // z-tested against its own weekday-hour slot population — the
    // same exact-integer z-test as q_rate_anomalies, one seasonal
    // level deeper.
    Q("q_seasonal_anomalies",
      (s, dir) => graft.ops.Funnels.seasonalAnomalies(t(s, dir, "events"),
        "event_type", "ts", z = 2),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(date_part('dow', ts) AS INTEGER) + 1 AS dow,
          CAST(date_part('hour', ts) AS INTEGER) AS hour, COUNT(*) AS n
          FROM events GROUP BY 1, 2, 3, 4),
        s AS (SELECT event_type, d, dow, hour, n,
            COUNT(*) OVER w AS nd,
            CAST(SUM(n) OVER w AS BIGINT) AS sm,
            SUM(CAST(n AS HUGEINT) * n) OVER w AS q
          FROM d WINDOW w AS (PARTITION BY event_type, dow, hour))
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day, dow, hour, n,
          CAST(CAST(sm AS HUGEINT) * 1000000 // nd AS BIGINT) AS mean_micro,
          (CAST(nd AS HUGEINT) * n - sm) * (CAST(nd AS HUGEINT) * n - sm)
            > 4 * (CAST(nd AS HUGEINT) * q - CAST(sm AS HUGEINT) * sm) AS is_anomaly
        FROM s""")),

    // CDC snapshot diff: two deterministic "versions" of orders
    // (old = keys not divisible by 7; new = prices bumped on keys
    // divisible by 5) -> added/removed/changed classification.
    Q("q_snapshot_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val oldSnap = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val newSnap = orders.select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(5)) === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        graft.ops.Snapshot.diff(oldSnap, newSnap,
          Seq("o_orderkey"), Seq("o_totalprice"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 7 <> 0),
        n AS (SELECT o_orderkey,
            CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                 ELSE o_totalprice END AS o_totalprice
          FROM orders)
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
          o.o_totalprice AS old_o_totalprice,
          n.o_totalprice AS new_o_totalprice,
          CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               ELSE 'changed' END AS change_type
        FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_totalprice <> n.o_totalprice""")),

    // SCD Type-2 validity intervals: each user's event_type change
    // history as [from, to) versions with no-op updates collapsed —
    // the Kimball dimension-history staple; one event-volume shuffle.
    Q("q_scd2",
      (s, dir) => graft.ops.Snapshot.scd2(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_type", tiebreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("effective_from")).as("from_us"),
          unix_micros(col("effective_to")).as("to_us"),
          col("is_current")),
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
            lag(event_type) OVER w AS prev,
            row_number() OVER w AS rn
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts, event_id, event_type FROM o
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        SELECT user_id, event_type, epoch_us(ts) AS from_us,
          epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS to_us,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        FROM s""")),

    // Kaplan-Meier time-to-first-purchase: right-censored at the
    // corpus max; ln-space survival in integral micros (exp left to
    // the consumer -- libm last-ulp is not part of the contract).
    Q("q_kaplan_meier",
      (s, dir) => {
        val e = t(s, dir, "events")
        val ep = floor(unix_timestamp(col("ts"))).cast("long")
        val f = e.groupBy(col("user_id")).agg(min(ep).as("fe"))
        val p = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(ep).as("pe"))
        val m = e.agg(max(ep).as("me"))
        val subj = f.join(p, Seq("user_id"), "left").crossJoin(broadcast(m))
          .withColumn("dur",
            when(col("pe").isNotNull, col("pe") - col("fe"))
              .otherwise(col("me") - col("fe")))
          .withColumn("ev", col("pe").isNotNull.cast("int"))
        graft.ops.Survival.kaplanMeier(subj, "dur", "ev")
      },
      Some("""WITH f AS (SELECT user_id,
          min(CAST(floor(epoch(ts)) AS BIGINT)) AS fe FROM events GROUP BY 1),
        p AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS pe
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        m AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS me FROM events),
        s AS (SELECT f.user_id,
            CASE WHEN pe IS NOT NULL THEN pe - fe ELSE me - fe END AS dur,
            CASE WHEN pe IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM f LEFT JOIN p USING (user_id) CROSS JOIN m),
        perT AS (SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
            CAST(SUM(1 - ev) AS BIGINT) AS c, COUNT(*) AS all_t
          FROM s GROUP BY dur),
        e AS (SELECT *, coalesce(SUM(all_t) OVER
            (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bf,
            SUM(all_t) OVER () AS nt FROM perT),
        r AS (SELECT dur AS t, CAST(nt - bf AS BIGINT) AS n_at_risk, d AS n_events,
            c AS n_censored,
            CASE WHEN d < nt - bf THEN CAST(floor(
              ln(CAST(nt - bf - d AS DOUBLE) / (nt - bf)) * 1e6 + 0.5) AS BIGINT)
            END AS ln_step_micro
          FROM e WHERE d > 0)
        SELECT t, n_at_risk, n_events, n_censored, ln_step_micro,
          CAST(SUM(ln_step_micro) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_surv_micro
        FROM r""")),

    // Wilson score interval per event type for P(value > 100):
    // exact integer (c, n), stated IEEE bound tree — the CI that
    // doesn't collapse at small n or extreme rates.
    Q("q_wilson_ci",
      (s, dir) => graft.ops.Stats.wilson(
        t(s, dir, "events").withColumn("flag", (col("value") > 100).cast("int")),
        "flag", Seq("event_type")),
      Some("""WITH a AS (SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL GROUP BY event_type)
        SELECT event_type, n, c,
          (c * 1000000) // n AS rate_micro,
          (CAST(c AS DOUBLE) + 4.0 / 2.0) / (CAST(n AS DOUBLE) + 4.0)
            - 2.0 * sqrt(CAST(c AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(c AS DOUBLE))
                / CAST(n AS DOUBLE) + 4.0 / 4.0)
              / (CAST(n AS DOUBLE) + 4.0) AS wilson_lo,
          (CAST(c AS DOUBLE) + 4.0 / 2.0) / (CAST(n AS DOUBLE) + 4.0)
            + 2.0 * sqrt(CAST(c AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(c AS DOUBLE))
                / CAST(n AS DOUBLE) + 4.0 / 4.0)
              / (CAST(n AS DOUBLE) + 4.0) AS wilson_hi
        FROM a""")),

    // Linear multi-touch attribution: each conversion's 1e6 micros of
    // credit split equally across its prior touches, remainder one
    // micro apiece to the earliest (credit sums EXACTLY per
    // conversion); no-touch conversions credit 'none'.
    Q("q_linear_attribution",
      (s, dir) => graft.ops.Funnels.linearAttribution(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        tiebreak = "event_id"),
      Some("""WITH b AS (SELECT user_id AS k, ts, event_type AS ty, event_id AS tb
          FROM events WHERE event_type IN ('click', 'view', 'purchase')
          QUALIFY COUNT(*) OVER (PARTITION BY user_id) <= 100000),
        c AS (SELECT k, ts AS cts, tb AS ctb FROM b WHERE ty = 'purchase'),
        t AS (SELECT k, ts AS tts, tb AS ttb, ty AS channel FROM b
          WHERE ty IN ('click', 'view')),
        p AS (SELECT c.k, cts, ctb, tts, ttb, channel FROM c JOIN t ON c.k = t.k
          AND (tts < cts OR (tts = cts AND ttb < ctb))),
        cr AS (SELECT *, COUNT(*) OVER (PARTITION BY k, cts, ctb) AS kcnt,
            row_number() OVER (PARTITION BY k, cts, ctb ORDER BY tts, ttb) AS rn
          FROM p),
        cc AS (SELECT channel, k, cts, ctb,
          (1000000 // kcnt) + CASE WHEN rn <= 1000000 % kcnt THEN 1 ELSE 0 END AS credit
          FROM cr),
        tc AS (SELECT channel, CAST(SUM(credit) AS BIGINT) AS credit_micro,
            COUNT(DISTINCT (k, cts, ctb)) AS n_conversions_touched
          FROM cc GROUP BY channel),
        un AS (SELECT 'none' AS channel,
            CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_micro,
            COUNT(*) AS n_conversions_touched
          FROM c WHERE NOT EXISTS (SELECT 1 FROM p
            WHERE p.k = c.k AND p.cts = c.cts AND p.ctb = c.ctb)
          HAVING COUNT(*) > 0)
        SELECT * FROM tc UNION ALL SELECT * FROM un""")),

    // Two-proportion A/B test with the exact integer verdict
    // ((c1n2-c2n1)^2 N > z^2 n1 n2 C (N-C) in int128): variant by
    // user-id parity, conversion = any purchase event.
    Q("q_ab_test",
      (s, dir) => graft.ops.Stats.abTest(
        t(s, dir, "events")
          .withColumn("variant", expr("cast(user_id % 2 as int)"))
          .withColumn("converted", (col("event_type") === "purchase").cast("int")),
        "user_id", "variant", "converted"),
      Some("""WITH per AS (SELECT user_id,
          min(CAST(user_id % 2 AS INTEGER)) AS variant,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id),
        v AS (SELECT variant, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
          FROM per GROUP BY variant),
        t AS (SELECT min(variant) AS variant_a, max(variant) AS variant_b,
          COUNT(*) AS nv FROM v),
        aa AS (SELECT t.*, va.n AS n_a, va.c AS c_a, vb.n AS n_b, vb.c AS c_b
          FROM t JOIN v va ON va.variant = t.variant_a
          JOIN v vb ON vb.variant = t.variant_b)
        SELECT variant_a, n_a, c_a, variant_b, n_b, c_b,
          (c_a * 1000000) // n_a AS rate_a_micro,
          (c_b * 1000000) // n_b AS rate_b_micro,
          (c_a * 1000000) // n_a - (c_b * 1000000) // n_b AS diff_micro,
          nv = 2 AND
            (CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
            * (CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
            * (n_a + n_b)
            > CAST(4 AS HUGEINT) * n_a * n_b * (c_a + c_b)
              * (n_a + n_b - c_a - c_b) AS significant
        FROM aa""")),

    // Recency-decayed engagement per user: step decay on whole
    // 7-day half-lives before the corpus max — exact integer
    // arithmetic (no Math.pow), one key shuffle.
    Q("q_decayed_engagement",
      (s, dir) => graft.ops.Sessions.decayedEngagement(
        t(s, dir, "events"), "user_id", "ts", halfLifeDays = 7),
      Some("""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        c AS (SELECT max(ep) AS m FROM e),
        w AS (SELECT user_id,
          1000000 // ((1::BIGINT) << least((m - ep) // 604800, 62)) AS w
          FROM e CROSS JOIN c)
        SELECT user_id, COUNT(*) AS n_events,
          CAST(SUM(w) AS BIGINT) AS decayed_micro
        FROM w GROUP BY user_id""")),

    // Hierarchical share-of-parent: each nation's revenue share of
    // its region in integral micros (DECIMAL(38,0) revenue micros;
    // the share window runs on the tiny region-nation relation).
    Q("q_share_of_parent",
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        val rev = o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg((sum(dec(col("o_totalprice"))) * lit(10000))
            .cast("decimal(38,0)").as("_rev"))
        val w = Window.partitionBy(col("r_name"))
        rev.withColumn("_tot", sum(col("_rev")).over(w))
          .select(col("r_name"), col("n_name"),
            col("_rev").cast("double").as("revenue_micro"),
            expr("cast(_rev * 1000000 div _tot as bigint)").as("share_micro"))
      },
      Some("""WITH rev AS (SELECT r_name, n_name,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS rv
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name),
        t AS (SELECT *, SUM(rv) OVER (PARTITION BY r_name) AS tot FROM rev)
        SELECT r_name, n_name, CAST(rv AS DOUBLE) AS revenue_micro,
          CAST((rv * 1000000) // tot AS BIGINT) AS share_micro
        FROM t""")),

    // SCD2 point-in-time lookup: probe the dimension history at fixed
    // instants — the "what was this user's state on the 15th" join.
    // Versions are orders of magnitude fewer than events, one
    // key-equi join + row-local interval filter.
    Q("q_scd2_lookup",
      (s, dir) => {
        val dim = graft.ops.Snapshot.scd2(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_type", tiebreak = Seq("event_id"))
        val probes = t(s, dir, "events").select(col("user_id")).distinct()
          .withColumn("probe_ts", explode(array(
            Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-25 00:00:00")
              .map(x => to_timestamp(lit(x))): _*)))
        dim.join(probes, Seq("user_id"))
          .filter(col("probe_ts") >= col("effective_from") &&
            (col("effective_to").isNull || col("probe_ts") < col("effective_to")))
          .select(col("user_id"),
            date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
            col("event_type").as("state_at"))
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
            lag(event_type) OVER w AS prev, row_number() OVER w AS rn
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts, event_id, event_type FROM o
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        v AS (SELECT user_id, event_type, ts AS f,
            lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
          FROM s),
        p AS (SELECT DISTINCT user_id FROM events),
        pp AS (SELECT user_id, unnest([TIMESTAMP '2024-01-08 00:00:00',
            TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-25 00:00:00']) AS probe_ts
          FROM p)
        SELECT v.user_id, strftime(probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_ts,
          event_type AS state_at
        FROM v JOIN pp ON v.user_id = pp.user_id
        WHERE probe_ts >= f AND (t IS NULL OR probe_ts < t)""")),

    // Tumbling-window aggregation (the batch face of the streaming
    // windowed agg — same window() operator Structured Streaming
    // uses; UTC day buckets align with DuckDB's date_trunc).
    Q("q_window_tumbling",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total_value")),
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2""")),

    // Hopping (sliding) window aggregation: 1-day windows every 6
    // hours — each event lands in exactly size/slide = 4 windows
    // (epoch-aligned, same as Structured Streaming's sliding window()
    // operator). The
    // 4x row expansion happens row-locally BEFORE the one
    // map-side-combined agg shuffle; the oracle builds the same four
    // aligned starts per event with a generate_series cross join.
    Q("q_window_hopping",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n"), col("total_value")),
      Some("""SELECT strftime(make_timestamp(
            ((CAST(floor(epoch(ts)) AS BIGINT) // 21600 - i) * 21600) * 1000000),
            '%Y-%m-%d %H:%M') AS win_start,
          event_type, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events CROSS JOIN generate_series(0, 3) AS g(i)
        GROUP BY 1, 2""")),

    // Toleranced as-of join (feature-store staleness bound): clicks
    // pick up the latest prior purchase ONLY if it is at most one hour
    // old — stale matches null out (left-outer, TimeJoins.asofJoin
    // toleranceSecs). Same single union+window shuffle as q_asof_join;
    // the bound is a row-local filter on the carried match.
    Q("q_asof_tolerance",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts")).orderBy(col("p_id").desc)
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
        graft.ops.TimeJoins.asofJoin(clicks, purch, Seq("user_id"), "ts", "ts",
            Seq("p_id"), toleranceSecs = Some(3600L))
          .select(col("event_id"), col("user_id"), col("asof_p_id"))
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        purch AS (SELECT user_id, ts, event_id AS p_id FROM events
          WHERE event_type = 'purchase'
          QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        SELECT c.event_id, c.user_id,
          CASE WHEN CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.ts)) AS BIGINT) <= 3600
               THEN p.p_id END AS asof_p_id
        FROM clicks c ASOF LEFT JOIN purch p
          ON c.user_id = p.user_id AND c.ts >= p.ts""")),

    // Exact Pearson correlation matrix (Stats.correlationMatrix): every
    // moment sum in ONE map-side-combined pass as DECIMAL(38,0) integer
    // micros (order-independent — a double sum would be partition-order
    // dependent), IEEE closing arithmetic stated verbatim in the oracle
    // (DuckDB HUGEINT == int128 plays the exact-integer role there).
    Q("q_corr_matrix",
      (s, dir) => graft.ops.Stats.correlationMatrix(
        t(s, dir, "lineitem"), Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""WITH m AS (SELECT
          CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS q,
          CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS p,
          CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS d
          FROM lineitem WHERE l_quantity IS NOT NULL
            AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        s AS (SELECT COUNT(*) AS n, SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
          SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
          SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(p*d) AS spd FROM m)
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
          CASE WHEN CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE) > 0
                AND CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)-CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE) > 0
               THEN (CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)-CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))) END AS corr
        FROM s
        UNION ALL SELECT 'l_quantity', 'l_discount', n,
          CASE WHEN CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE) > 0
                AND CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)-CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE) > 0
               THEN (CAST(n AS DOUBLE)*CAST(sqd AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE)-CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)-CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))) END
        FROM s
        UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
          CASE WHEN CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)-CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE) > 0
                AND CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)-CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE) > 0
               THEN (CAST(n AS DOUBLE)*CAST(spd AS DOUBLE)-CAST(sp AS DOUBLE)*CAST(sd AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE)*CAST(spp AS DOUBLE)-CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)-CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))) END
        FROM s""")),

    // Per-group OLS fit (Stats.olsFit): slope/intercept of extendedprice
    // on quantity per returnflag — one map-side-combined group shuffle,
    // exact integer-micro moment sums, IEEE closing (the micro unit
    // cancels in the slope; the intercept states its one 10^4 division).
    Q("q_ols_fit",
      (s, dir) => graft.ops.Stats.olsFit(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice", Seq("l_returnflag")),
      Some("""WITH m AS (SELECT l_returnflag,
          CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS x,
          CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS y
          FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        s AS (SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM m GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
               THEN (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)-CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) END AS slope,
          (CAST(sy AS DOUBLE) - slope*CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE)) AS intercept
        FROM s""")),

    // RFM segmentation (Rfm.rfm): per-user recency/frequency/monetary
    // with fixed business-rule bands — row-local scoring after ONE
    // user-keyed event shuffle; recency vs the broadcast corpus max
    // (rerun-deterministic, not wall clock); monetary exact in DECIMAL.
    Q("q_rfm",
      (s, dir) => graft.ops.Rfm.rfm(t(s, dir, "events"), "user_id", "ts", "value",
        recencyDayBands = (0, 1), freqBands = (70L, 55L),
        monetaryBands = (BigDecimal(4000), BigDecimal(2500))),
      Some("""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
            CAST(value AS DECIMAL(18,4)) AS v FROM events),
        u AS (SELECT user_id, max(ep) AS last_epoch, COUNT(*) AS frequency,
            SUM(v) AS monetary_dec FROM e GROUP BY user_id),
        c AS (SELECT max(ep) AS corpus_max_epoch FROM e)
        SELECT user_id, (corpus_max_epoch - last_epoch) // 86400 AS recency_days,
          frequency, CAST(monetary_dec AS DOUBLE) AS monetary,
          CASE WHEN recency_days <= 0 THEN 3 WHEN recency_days <= 1 THEN 2 ELSE 1 END AS r_score,
          CASE WHEN frequency >= 70 THEN 3 WHEN frequency >= 55 THEN 2 ELSE 1 END AS f_score,
          CASE WHEN monetary_dec >= 4000 THEN 3 WHEN monetary_dec >= 2500 THEN 2 ELSE 1 END AS m_score,
          CASE WHEN r_score = 3 AND f_score = 3 AND m_score = 3 THEN 'champion'
               WHEN r_score >= 2 AND f_score >= 2 THEN 'loyal'
               WHEN r_score = 1 AND f_score >= 2 THEN 'at_risk'
               WHEN r_score >= 2 AND f_score = 1 THEN 'new_or_casual'
               ELSE 'hibernating' END AS segment
        FROM u CROSS JOIN c""")),

    // Association rules over per-user event-type baskets: ordered
    // (antecedent -> consequent) support/confidence/lift in exact
    // integral micros (Associations.rules). Pair stage is per-basket
    // and maxBasketSize-bounded; marginals broadcast.
    Q("q_assoc_rules",
      (s, dir) => graft.ops.Associations.rules(
        t(s, dir, "events"), "user_id", "event_type"),
      Some("""WITH ki AS (SELECT DISTINCT user_id AS k, event_type AS item
            FROM events WHERE event_type IS NOT NULL),
        p AS (SELECT a.item AS a, b.item AS b, COUNT(*) AS n_ab
          FROM ki a JOIN ki b ON a.k = b.k AND a.item <> b.item GROUP BY 1, 2),
        m AS (SELECT item, COUNT(*) AS n_item FROM ki GROUP BY item),
        n AS (SELECT COUNT(DISTINCT k) AS n_keys FROM ki)
        SELECT p.a AS antecedent, p.b AS consequent, n_ab,
          (n_ab * 1000000) // n_keys AS support_micro,
          (n_ab * 1000000) // ma.n_item AS confidence_micro,
          CAST((CAST(n_ab AS HUGEINT) * n_keys * 1000000)
            // (CAST(ma.n_item AS HUGEINT) * mb.n_item) AS BIGINT) AS lift_micro
        FROM p JOIN m ma ON ma.item = p.a JOIN m mb ON mb.item = p.b
        CROSS JOIN n WHERE n_ab >= 1""")),

    // Benford first-digit audit per order priority: integer-arithmetic
    // leading digit (macro-expanded magnitude CASE — no FP log10, no
    // string render), integral-micro shares vs the inlined Benford
    // expectation table.
    Q("q_benford",
      (s, dir) => graft.ops.Stats.benford(
        t(s, dir, "orders"), "o_totalprice", Seq("o_orderpriority")),
      Some(benfordOracle)),

    // Equi-width value histogram over global [min, max] in integral
    // micro arithmetic (Stats.valueHistogram) — per-type distributions
    // on shared edges; 1-row bounds broadcast, one count shuffle.
    Q("q_value_histogram",
      (s, dir) => graft.ops.Stats.valueHistogram(
        t(s, dir, "events"), "value", Seq("event_type"), nBuckets = 20),
      Some("""WITH b AS (SELECT event_type,
          CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
          FROM events WHERE value IS NOT NULL),
        mm AS (SELECT min(m) AS mn, max(m) AS mx FROM b),
        d AS (SELECT event_type,
          least(19, ((m - mn) * 20) // (mx - mn + 1)) AS bucket, mn, mx
          FROM b CROSS JOIN mm)
        SELECT event_type, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n,
          mn + (bucket * (mx - mn + 1)) // 20 AS lo_micro,
          mn + ((bucket + 1) * (mx - mn + 1)) // 20 AS hi_micro
        FROM d GROUP BY event_type, bucket, mn, mx""")),

    // Chi-square independence report: event type x day-of-week
    // (Sunday=1 in both engines), exact integral micros via the
    // (o*N - rt*ct)^2 / (N*rt*ct) identity in int128.
    Q("q_crosstab_chi2",
      (s, dir) => graft.ops.Stats.crosstabChi2(
        t(s, dir, "events").filter(col("ts").isNotNull)
          .withColumn("dow", dayofweek(col("ts"))),
        "event_type", "dow"),
      Some("""WITH c AS (SELECT event_type AS row_val,
          CAST(date_part('dow', ts) AS INTEGER) + 1 AS col_val, COUNT(*) AS n
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
        r AS (SELECT row_val, SUM(n) AS rt FROM c GROUP BY row_val),
        k AS (SELECT col_val, SUM(n) AS ct FROM c GROUP BY col_val),
        t AS (SELECT SUM(n) AS nn FROM c)
        SELECT c.row_val, c.col_val, c.n,
          CAST((CAST(rt AS HUGEINT) * ct * 1000000) // nn AS BIGINT) AS expected_micro,
          CAST(((CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
              * (CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct) * 1000000)
            // (CAST(nn AS HUGEINT) * rt * ct) AS BIGINT) AS contrib_micro,
          CAST(SUM(CAST(((CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
              * (CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct) * 1000000)
            // (CAST(nn AS HUGEINT) * rt * ct) AS BIGINT)) OVER () AS BIGINT) AS chi2_micro_total,
          CASE WHEN least((SELECT COUNT(*) FROM r), (SELECT COUNT(*) FROM k)) > 1 THEN
            sqrt((CAST(SUM(CAST(((CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
                * (CAST(c.n AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct) * 1000000)
              // (CAST(nn AS HUGEINT) * rt * ct) AS BIGINT)) OVER () AS DOUBLE) / 1e6)
              / (CAST(nn AS DOUBLE) *
                 CAST(least((SELECT COUNT(*) FROM r), (SELECT COUNT(*) FROM k)) - 1 AS DOUBLE)))
          END AS cramers_v
        FROM c JOIN r USING (row_val) JOIN k USING (col_val) CROSS JOIN t""")),

    // Sequential pattern mining: consecutive event-type trigrams per
    // user (total (ts, event_id) order), corpus top-20 with a
    // deterministic rank — TakeOrderedAndProject, never a global sort.
    Q("q_event_trigrams",
      (s, dir) => graft.ops.Sessions.eventNgrams(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        n = 3, topK = 20),
      Some("""WITH o AS (SELECT user_id, event_type,
          lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2,
          lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1
          FROM events WHERE event_type IS NOT NULL),
        g AS (SELECT concat_ws('>', p2, p1, event_type) AS gram FROM o
          WHERE p2 IS NOT NULL AND p1 IS NOT NULL),
        c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
        rk AS (SELECT gram, n,
          CAST(row_number() OVER (ORDER BY n DESC, gram) AS INTEGER) AS rank FROM c)
        SELECT gram, n, rank FROM rk WHERE rank <= 20""")),

    // GROUPING SETS via the Spark 4 Dataset API — the general form of
    // rollup/cube (two single-level slices + the pair + the all row in
    // ONE pass; the columns are non-null so the null pattern is the
    // level marker, as in q_rollup_region).
    Q("q_grouping_sets",
      (s, dir) => t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders GROUP BY GROUPING SETS
        ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())""")),

    // Ranking-window battery: percent_rank / cume_dist / ntile /
    // nth_value per event type over a TOTAL (value, event_id) order —
    // unique tiebreak makes every function deterministic and the RANGE
    // default frame peer-free; the two ratio functions are single
    // IEEE divisions of exact integer ranks (engine-identical).
    Q("q_window_battery",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("event_id"), 2).over(w).as("second_id"))
      },
      Some("""SELECT event_id, event_type, value,
        percent_rank() OVER w AS pr,
        cume_dist() OVER w AS cd,
        ntile(4) OVER w AS quartile,
        nth_value(event_id, 2) OVER w AS second_id
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")),

    // Mean imputation: NULLs (injected on a deterministic id rule,
    // identically in the oracle) repaired with the per-type exact
    // integral-micro mean; broadcast means, no data shuffle.
    Q("q_impute",
      (s, dir) => graft.ops.Stats.imputeMean(
        t(s, dir, "events")
          .withColumn("value",
            when(expr("event_id % 10 = 0"), lit(null)).otherwise(col("value")))
          .select(col("event_id"), col("event_type"), col("value")),
        "value", Seq("event_type")),
      Some("""WITH e AS (SELECT event_id, event_type,
          CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value FROM events),
        m AS (SELECT event_type,
          CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS HUGEINT))
            // COUNT(*) AS BIGINT) AS mean_micro
          FROM e WHERE value IS NOT NULL GROUP BY event_type)
        SELECT event_id, e.event_type,
          CASE WHEN e.value IS NOT NULL THEN e.value
               ELSE CAST(mean_micro AS DOUBLE) / 10000 END AS value
        FROM e LEFT JOIN m ON e.event_type = m.event_type""")),

    // Winsorization at mean +- 2 sigma per event type: exact moment
    // sums, stated IEEE bound arithmetic in micro units, row-local
    // clamp; broadcast stats, no data shuffle.
    Q("q_winsorize",
      (s, dir) => graft.ops.Stats.winsorize(
        t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
        "value", Seq("event_type"), sigmas = 2.0),
      Some("""WITH v AS (SELECT event_id, event_type, value,
          CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
          FROM events),
        s AS (SELECT event_type, COUNT(*) AS n,
          SUM(CAST(m AS HUGEINT)) AS sx, SUM(CAST(m AS HUGEINT) * m) AS sxx
          FROM v WHERE value IS NOT NULL GROUP BY event_type),
        b AS (SELECT event_type,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd
          FROM s)
        SELECT event_id, v.event_type, v.value,
          v.value IS NOT NULL AND (CAST(m AS DOUBLE) < mean - 2.0 * sd
            OR CAST(m AS DOUBLE) > mean + 2.0 * sd) AS was_clipped,
          CASE WHEN v.value IS NULL THEN NULL
               WHEN CAST(m AS DOUBLE) < mean - 2.0 * sd THEN (mean - 2.0 * sd) / 10000
               WHEN CAST(m AS DOUBLE) > mean + 2.0 * sd THEN (mean + 2.0 * sd) / 10000
               ELSE v.value END AS value_w
        FROM v LEFT JOIN b ON v.event_type = b.event_type""")),

    // Referential-integrity audit: orphaned and NULL foreign keys per
    // relation (defects injected on deterministic id rules, mirrored
    // in the oracle, so the detection demonstrably fires).
    Q("q_ref_integrity",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .withColumn("o_custkey",
            when(expr("o_orderkey % 89 = 0"), lit(null))
              .when(expr("o_orderkey % 97 = 0"), col("o_custkey") + 1000000)
              .otherwise(col("o_custkey")))
        graft.ops.Profile.refIntegrity("orders->customer",
            orders, "o_custkey", t(s, dir, "customer"), "c_custkey")
          .unionAll(graft.ops.Profile.refIntegrity("lineitem->orders",
            t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"))
      },
      Some("""WITH o AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 89 = 0 THEN NULL
               WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
               ELSE o_custkey END AS o_custkey FROM orders),
        r1 AS (SELECT 'orders->customer' AS relation, COUNT(*) AS n_rows,
          COUNT(*) FILTER (o_custkey IS NULL) AS n_null_keys,
          COUNT(*) FILTER (o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
            AS n_orphans
          FROM o),
        r2 AS (SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_rows,
          COUNT(*) FILTER (l_orderkey IS NULL) AS n_null_keys,
          COUNT(*) FILTER (l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
            AS n_orphans
          FROM lineitem),
        u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        SELECT relation, n_rows, n_null_keys, n_orphans,
          CASE WHEN n_rows > n_null_keys
               THEN (n_orphans * 1000000) // (n_rows - n_null_keys)
               ELSE 0 END AS orphan_micro
        FROM u""")),

    // Gap-fill resample (Resample.gapFillResample): irregular per-user
    // events onto a daily grid between each user's first and last day —
    // per-bucket decimal-exact mean, forward fill, and linear
    // interpolation restated as the literal IEEE sequence in the
    // oracle. Windows partition BY USER; the grid is sequence+explode
    // over a per-key span aggregate, never a data-volume operation.
    Q("q_resample_daily",
      (s, dir) => graft.ops.Resample.gapFillResample(
        t(s, dir, "events"), Seq("user_id"), "ts", "value", stepSeconds = 86400L),
      Some(resampleDailyOracle)),

    // Gap report companion: per-user observed/empty bucket counts and
    // the longest empty run — the signal that decides whether
    // interpolation is defensible for a key.
    Q("q_gap_report",
      (s, dir) => graft.ops.Resample.gapReport(
        t(s, dir, "events"), Seq("user_id"), "ts", stepSeconds = 86400L),
      Some("""WITH e AS (SELECT DISTINCT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b FROM events),
        g AS (SELECT user_id, b,
          b - lag(b) OVER (PARTITION BY user_id ORDER BY b) - 1 AS gap FROM e)
        SELECT user_id, min(b) AS first_bucket, max(b) AS last_bucket,
          count(*) AS n_observed_buckets,
          max(b) - min(b) + 1 - count(*) AS n_empty_buckets,
          coalesce(max(gap), 0) AS longest_gap_buckets
        FROM g GROUP BY user_id""")),

    // Z-order clustering key (the Delta/Iceberg OPTIMIZE ZORDER BY
    // layout): equi-width bucket each dimension over broadcast
    // min/max bounds, bit-interleave the buckets. Pure shift/and/or
    // Column algebra (whole-stage codegen); the oracle restates the
    // identical IEEE bucket arithmetic and the same 16-bit interleave.
    Q("q_zorder_value",
      (s, dir) => graft.ops.Layout.zorderValue(
          t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey"), bits = 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("zval")),
      Some(zorderValueOracle)),

    // Layout-quality report: cut the table into 64 equi-depth files
    // under (a) Z-order and (b) lexicographic order, roll up per-file
    // min/max (what a parquet footer stores), and count the files +
    // rows a box predicate cannot prune. The global rank rides the
    // distributed two-level runningSums — no single-task window (the
    // r8 class) anywhere in the plan. rows_in_hit_files vs
    // rows_matching is the layout's read amplification at 100 TB.
    Q("q_zorder_pruning",
      (s, dir) => graft.ops.Layout.pruningReport(
        t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq(("l_partkey", 400.0, 700.0), ("l_suppkey", 20.0, 40.0)),
        bits = 16, nFiles = 64),
      Some("""WITH bd AS (SELECT
          min(CAST(l_partkey AS DOUBLE)) AS mnx, max(CAST(l_partkey AS DOUBLE)) AS mxx,
          min(CAST(l_suppkey AS DOUBLE)) AS mny, max(CAST(l_suppkey AS DOUBLE)) AS mxy,
          count(*) AS n FROM lineitem),
        c AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, n,
          CASE WHEN mxx > mnx THEN least(65535, CAST(floor(
            (CAST(l_partkey AS DOUBLE) - mnx) * 65536.0 / (mxx - mnx)) AS BIGINT))
            ELSE 0 END AS zx,
          CASE WHEN mxy > mny THEN least(65535, CAST(floor(
            (CAST(l_suppkey AS DOUBLE) - mny) * 65536.0 / (mxy - mny)) AS BIGINT))
            ELSE 0 END AS zy
          FROM lineitem, bd),
        z AS (SELECT *, CAST(list_sum(list_transform(generate_series(0, 15),
            i -> (((zx >> i) & 1) << (2*i)) + (((zy >> i) & 1) << (2*i + 1))))
            AS BIGINT) AS zval FROM c),
        az AS (SELECT 'zorder' AS layout, l_partkey, l_suppkey,
          CAST(floor((row_number() OVER (ORDER BY zval, l_partkey, l_suppkey,
              l_orderkey, l_linenumber) - 1)
            / CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT)) AS BIGINT) AS file_id
          FROM z),
        al AS (SELECT 'linear' AS layout, l_partkey, l_suppkey,
          CAST(floor((row_number() OVER (ORDER BY l_partkey, l_suppkey,
              l_orderkey, l_linenumber) - 1)
            / CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT)) AS BIGINT) AS file_id
          FROM z),
        a AS (SELECT * FROM az UNION ALL SELECT * FROM al),
        pf AS (SELECT layout, file_id,
          min(CAST(l_partkey AS DOUBLE)) AS mn_p, max(CAST(l_partkey AS DOUBLE)) AS mx_p,
          min(CAST(l_suppkey AS DOUBLE)) AS mn_s, max(CAST(l_suppkey AS DOUBLE)) AS mx_s,
          count(*) AS rows_f,
          sum(CASE WHEN CAST(l_partkey AS DOUBLE) BETWEEN 400 AND 700
                    AND CAST(l_suppkey AS DOUBLE) BETWEEN 20 AND 40
                   THEN 1 ELSE 0 END) AS match_f
          FROM a GROUP BY layout, file_id)
        SELECT layout, count(*) AS n_files,
          CAST(sum(CASE WHEN mx_p >= 400 AND mn_p <= 700
                    AND mx_s >= 20 AND mn_s <= 40 THEN 1 ELSE 0 END) AS BIGINT)
            AS files_hit,
          CAST(sum(CASE WHEN mx_p >= 400 AND mn_p <= 700
                    AND mx_s >= 20 AND mn_s <= 40 THEN rows_f ELSE 0 END) AS BIGINT)
            AS rows_in_hit_files,
          CAST(sum(match_f) AS BIGINT) AS rows_matching
        FROM pf GROUP BY layout""")),

    // Per-file bloom data-skipping index (the Delta/Hudi bloom-index
    // story): hash-partition events by user_id into 8 files (min/max
    // footer stats CANNOT prune a point lookup on that layout), build
    // one bloom sketch per file over xxhash64(user_id) with Spark's
    // own BloomFilterAggregate, then answer a 3-key point lookup by
    // scanning ONLY the might-contain files + the exact predicate.
    // The oracle is the plain IN-list — the pruned read must lose
    // nothing (no false negatives) and pass nothing extra (exact
    // post-filter); the files-scanned pruning property is pinned in
    // LayoutSpec.
    Q("q_bloom_skipping",
      (s, dir) => {
        val tmp = graft.ops.CachedRelations.tempDir("bloom_skip_")
        t(s, dir, "events").select(col("event_id"), col("user_id"), col("value"))
          .repartition(8, col("user_id"))
          .write.mode("overwrite").parquet(s"$tmp/tbl")
        graft.ops.Layout.writeBloomIndex(s, s"$tmp/tbl", s"$tmp/idx",
          "user_id", itemsPerFile = 100000L, fpp = 0.01)
        graft.ops.Layout.bloomPrunedRead(s, s"$tmp/tbl", s"$tmp/idx",
          "user_id", Seq(7L, 19L, 42L))
      },
      Some("SELECT event_id, user_id, value FROM events WHERE user_id IN (7, 19, 42)")),
  )
}
