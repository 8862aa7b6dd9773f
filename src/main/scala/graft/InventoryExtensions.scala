package graft

import org.apache.spark.sql.functions._

/** Capability extensions past the reference surface (SURVEY §2.3 末, §7 M7):
  * sketch-based approximate aggregates Spark provides natively
  * (HyperLogLog++ count-distinct, KLL-ish percentile) exposed through the
  * same inventory, plus exact twins that anchor them to the DuckDB oracle.
  * Sketch outputs are engine-specific → rows-only driver check; their error
  * vs the exact twin is asserted in ExtensionSpec.
  */
object InventoryExtensions {
  import graft.Tables._

  val all: Seq[QueryDef] = Seq(
    QueryDef("q24_count_distinct_exact",
      (s, d) => orders(s, d).agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders")),
      Some("SELECT COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders FROM orders")),

    QueryDef("q25_approx_count_distinct_hll",
      // HLL++ sketch, ORACLE-GATED on an engine-checkable bound: the sketch
      // value itself is engine-specific, but "|est − exact| / exact ≤ 3·rsd"
      // is a claim the oracle can state from exact values alone — it emits
      // TRUE, and the hash matches iff the exact count matches AND the
      // in-query bound held. ExtensionSpec still asserts the tighter <5%.
      (s, d) => orders(s, d).agg(
          countDistinct(col("o_custkey")).as("n_customers_exact"),
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("__est"))
        .select(col("n_customers_exact"),
          (abs(col("__est").cast("double") /
            col("n_customers_exact").cast("double") - lit(1.0)) <= lit(0.06))
            .as("hll_within_3rsd")),
      Some("SELECT COUNT(DISTINCT o_custkey) AS n_customers_exact, TRUE AS hll_within_3rsd FROM orders")),

    QueryDef("q26_orders_by_status",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(sum(graft.functions.MoneyDec.dec(col("o_totalprice"), 18, 2)).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
      Some("SELECT o_orderstatus, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1")),

    QueryDef("q27_percentile_approx",
      // approx-percentile sketch, ORACLE-GATED on its rank-error contract:
      // with accuracy=10000 the sketch's rank error is ≤ 1e-4, so the
      // estimate must lie within the exact quantile bracket p ± 0.01
      // (100× slack). The bracket is computed in-query from exact
      // percentiles; the oracle asserts the same booleans from exact
      // values (TRUE) plus the exact percentiles themselves (Spark
      // `percentile` ≡ DuckDB `quantile_cont`, the q52-proven identity).
      (s, d) => lineitem(s, d).agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50_exact"),
          percentile(col("l_quantity"), lit(0.95)).as("p95_exact"),
          percentile(col("l_quantity"), lit(0.49)).as("__p50_lo"),
          percentile(col("l_quantity"), lit(0.51)).as("__p50_hi"),
          percentile(col("l_quantity"), lit(0.94)).as("__p95_lo"),
          percentile(col("l_quantity"), lit(0.96)).as("__p95_hi"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("__e50"),
          percentile_approx(col("l_quantity"), lit(0.95), lit(10000)).as("__e95"))
        .select(col("p50_exact"), col("p95_exact"),
          (col("__e50") >= col("__p50_lo") && col("__e50") <= col("__p50_hi"))
            .as("p50_within_rank_eps"),
          (col("__e95") >= col("__p95_lo") && col("__e95") <= col("__p95_hi"))
            .as("p95_within_rank_eps")),
      Some("SELECT quantile_cont(l_quantity, 0.5) AS p50_exact, quantile_cont(l_quantity, 0.95) AS p95_exact, TRUE AS p50_within_rank_eps, TRUE AS p95_within_rank_eps FROM lineitem")),

    QueryDef("q52_percentiles_exact",
      // EXACT grouped percentiles — the oracle-gated anchor for the q27
      // sketch family: Spark's `percentile` and DuckDB's `quantile_cont`
      // share the h = p·(n−1) linear-interpolation formula bit-for-bit
      // (probed at p = 0.25/0.5/0.9/0.99 before gating)
      (s, d) => lineitem(s, d).groupBy(col("l_returnflag")).agg(
        percentile(col("l_extendedprice"), lit(0.25)).as("p25"),
        percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90"),
        percentile(col("l_extendedprice"), lit(0.99)).as("p99"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS p25, quantile_cont(l_extendedprice, 0.5) AS p50, quantile_cont(l_extendedprice, 0.9) AS p90, quantile_cont(l_extendedprice, 0.99) AS p99 FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QueryDef("q28_dual_rate_sum",
      // dual-pointer design (reference R9): coarse stride ∪ fine stride,
      // honest inclusion-probability scale via inclusion–exclusion
      (s, d) => {
        val key = lineitemKey.column
        val sf = graft.exec.Sampling.dualRate(lineitem(s, d), key,
          coarseStep = 10L, fineStep = 7L)
        sf.df.agg((sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)).cast("double") *
          lit(sf.scaleFactor)).as("sum_price_est"),
          count(lit(1)).as("n_samples"))
      },
      Some {
        val k = lineitemKey.sql
        val p = 1.0 / 10 + 1.0 / 7 - 1.0 / 70
        s"SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * ${1.0 / p} AS sum_price_est, COUNT(*) AS n_samples FROM lineitem WHERE $k % 10 = 0 OR $k % 7 = 1"
      }),

    QueryDef("q64_value_histogram",
      // equi-width value profiling: bin = floor(x / width) is pure scan
      // arithmetic (no min/max pre-pass, no sort); one partial-agg shuffle
      // of (bin, count, decimal sum) partials
      (s, d) => lineitem(s, d)
        .withColumn("bin", floor(col("l_extendedprice") / lit(5000.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)).cast("double").as("sum_price"))
        .orderBy(col("bin")),
      Some("""SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin, COUNT(*) AS n, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QueryDef("q65_group_corr",
      // Pearson correlation per group from five EXACT integer moments
      // (cents — corr is invariant under the x100 scaling), closed form
      // applied once per group in identical expression text. Moments stay
      // scale-0 decimals until ONE final double cast: a hugeint-backed
      // DECIMAL(38,6)->DOUBLE cast double-rounds in DuckDB (int->double
      // then /1e6, measured 1 ulp off on sum(price^2)) while Java's
      // BigDecimal converts in one rounding — scale 0 makes both a single
      // correctly-rounded int->double conversion.
      (s, d) => {
        val xc = (graft.functions.MoneyDec.dec(col("l_quantity"), 18, 2) * lit(100)).cast("long")
        val yc = (graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2) * lit(100)).cast("long")
        lineitem(s, d)
          .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
          .groupBy(col("l_returnflag")).agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("xc").cast("decimal(28,0)")).cast("double").as("sx"),
            sum(col("yc").cast("decimal(28,0)")).cast("double").as("sy"),
            sum((col("xc") * col("xc")).cast("decimal(38,0)")).cast("double").as("sxx"),
            sum((col("yc") * col("yc")).cast("decimal(38,0)")).cast("double").as("syy"),
            sum((col("xc") * col("yc")).cast("decimal(38,0)")).cast("double").as("sxy"))
          .select(col("l_returnflag"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_price"),
            col("n").cast("long").as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (SELECT l_returnflag, CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc FROM lineitem), m AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(CAST(xc AS DECIMAL(28,0))) AS DOUBLE) AS sx, CAST(SUM(CAST(yc AS DECIMAL(28,0))) AS DOUBLE) AS sy, CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx, CAST(SUM(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy, CAST(SUM(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy FROM c GROUP BY 1) SELECT l_returnflag, (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price, CAST(n AS BIGINT) AS n_rows FROM m ORDER BY l_returnflag""")),

    QueryDef("q66_pps_sum",
      // PPS weighted sampling + Horvitz-Thompson: inclusion probability
      // proportional to l_quantity, unbiased SUM estimate via y/p summed
      // through decimal (raw double HT sums are partition-order dependent)
      (s, d) => {
        val key = lineitemKey.column
        val (sampled, _, _) = graft.exec.Sampling.pps(
          lineitem(s, d), col("l_quantity"), key, targetFraction = 0.1)
        sampled.agg(
          sum((col("l_extendedprice") / col("pps_p")).cast("decimal(28,10)"))
            .cast("double").as("sum_price_est"),
          count(lit(1)).as("n_samples"))
      },
      Some("""WITH m AS (SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s FROM lineitem), p AS (SELECT l_extendedprice, least(1.0, 0.1 * n * l_quantity / s) AS pp, ((l_orderkey * 8191 + l_linenumber * 131) % 1000003 * 1299709 + 104729) % 1000003 AS h FROM lineitem, m) SELECT CAST(SUM(CAST(l_extendedprice / pp AS DECIMAL(28,10))) AS DOUBLE) AS sum_price_est, COUNT(*) AS n_samples FROM p WHERE h < pp * 1000003""")),

    QueryDef("q146_sql_approx_sum",
      // first-class APPROX_SUM SQL syntax (GraftSqlParser / injectParser)
      // gated end-to-end: the SQL string is parsed by the session parser,
      // lowered to sum-over-Sample·scale by the SAME rewrite the injected
      // parser runs, and bound-gated like q25 — the estimate is seeded but
      // not DuckDB-reproducible, so the oracle states the exact sum plus
      // the 5% envelope (≈20σ at sf0.01, ≈7σ at sf0.001) as TRUE.
      // ApproxSqlSpec covers the injected-parser route (spark.sql direct),
      // grouping, mixing guards, and determinism.
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("graft_q146_lineitem")
        val est = graft.plans.GraftSqlParser.lowerSql(s,
          "SELECT APPROX_SUM(l_quantity, 10) AS est FROM graft_q146_lineitem")
        lineitem(s, d)
          .agg(sum(col("l_quantity")).cast("double").as("sum_exact"))
          .crossJoin(est)
          .select(col("sum_exact"),
            (abs(col("est") / col("sum_exact") - lit(1.0)) <= lit(0.05))
              .as("approx_within_5pct"))
      },
      Some("SELECT CAST(SUM(l_quantity) AS DOUBLE) AS sum_exact, TRUE AS approx_within_5pct FROM lineitem")),

    QueryDef("q29_adaptive_sum",
      // the engine's flagship, ORACLE-GATED: CLT adaptive ladder in its
      // deterministic form — nested key-mod systematic rounds
      // (step 20 ⊃ 10 ⊃ 5 → 5/10/20%) with early stop, cents fixed-point
      // moments so estimate/CI/verdict are bit-reproducible
      // (AdaptiveExecutor.runDeterministic scaladoc). The DuckDB oracle
      // replays the whole ladder INCLUDING the first-converged-round
      // selection and the drift verdict. The rand()-Bernoulli loop stays
      // covered by AdaptiveSpec as the R12/R13/R24 semantics anchor.
      (s, d) => {
        val key = lineitemKey.column
        val out = graft.exec.AdaptiveExecutor.runDeterministic(
          lineitem(s, d), col("l_extendedprice"), key,
          steps = Seq(20L, 10L, 5L), errorThresholdPct = 2.0)
        val r = out.result
        import s.implicits._
        Seq((r.value, r.ciLower, r.ciUpper, r.samplesUsed,
          out.rounds.size, r.status.toString))
          .toDF("sum_est", "ci_lower", "ci_upper", "n_samples",
            "rounds_used", "status")
      },
      Some {
        val k = lineitemKey.sql
        val xc = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        s"""WITH base AS (SELECT $k AS k, $xc AS xc FROM lineitem),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
 CAST(COUNT(CASE WHEN k % 20 = 0 THEN xc END) AS DOUBLE) AS n1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c1,
 CAST(COUNT(CASE WHEN k % 10 = 0 THEN xc END) AS DOUBLE) AS n2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c2,
 CAST(COUNT(CASE WHEN k % 5 = 0 THEN xc END) AS DOUBLE) AS n3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c3
 FROM base),
r AS (SELECT nn, n1, n2, n3,
 sc1 * (nn / n1) / 100.0 AS est1, 1.96 * sqrt(((s2c1 - sc1 * sc1 / n1) / (n1 - 1)) / n1) * nn / 100.0 AS mar1,
 sc2 * (nn / n2) / 100.0 AS est2, 1.96 * sqrt(((s2c2 - sc2 * sc2 / n2) / (n2 - 1)) / n2) * nn / 100.0 AS mar2,
 sc3 * (nn / n3) / 100.0 AS est3, 1.96 * sqrt(((s2c3 - sc3 * sc3 / n3) / (n3 - 1)) / n3) * nn / 100.0 AS mar3
 FROM m),
rr AS (SELECT *,
 100.0 * (((est1 + mar1) - (est1 - mar1)) / 2.0) / abs(est1) AS rel1,
 100.0 * (((est2 + mar2) - (est2 - mar2)) / 2.0) / abs(est2) AS rel2,
 100.0 * (((est3 + mar3) - (est3 - mar3)) / 2.0) / abs(est3) AS rel3
 FROM r),
sel AS (SELECT *, CASE WHEN rel1 <= 2.0 AND n1 >= 50 THEN 1 WHEN rel2 <= 2.0 AND n2 >= 50 THEN 2 ELSE 3 END AS ru FROM rr)
SELECT
 CASE ru WHEN 1 THEN est1 WHEN 2 THEN est2 ELSE est3 END AS sum_est,
 CASE ru WHEN 1 THEN est1 - mar1 WHEN 2 THEN est2 - mar2 ELSE est3 - mar3 END AS ci_lower,
 CASE ru WHEN 1 THEN est1 + mar1 WHEN 2 THEN est2 + mar2 ELSE est3 + mar3 END AS ci_upper,
 CAST(CASE ru WHEN 1 THEN n1 WHEN 2 THEN n1 + n2 ELSE n1 + n2 + n3 END AS BIGINT) AS n_samples,
 CAST(ru AS INTEGER) AS rounds_used,
 CASE
  WHEN (CASE ru WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) < 50 THEN 'InsufficientData'
  WHEN ru = 2 AND ((est1 + mar1 < est2 - mar2) OR (est2 + mar2 < est1 - mar1)) AND est1 <> 0.0 AND abs(est2 - est1) / abs(est1) * 100.0 > 5.0 THEN 'Drifting'
  WHEN ru = 3 AND ((est2 + mar2 < est3 - mar3) OR (est3 + mar3 < est2 - mar2)) AND est2 <> 0.0 AND abs(est3 - est2) / abs(est2) * 100.0 > 5.0 THEN 'Drifting'
  WHEN (CASE ru WHEN 1 THEN rel1 WHEN 2 THEN rel2 ELSE rel3 END) <= 2.0 THEN 'Stable'
  ELSE 'Drifting' END AS status
FROM sel"""
      })
  )
}
