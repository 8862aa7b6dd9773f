package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{Estimators, Sampling}
import graft.model.AggKind

/** One runnable operator/query: the Spark implementation plus (where the
  * semantics are SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against.
  *
  * Determinism rules that make hash-compare possible across engines:
  *  - sampling is systematic via key arithmetic (`key % step == offset`) —
  *    same rows selected by any engine;
  *  - monetary sums go through `DECIMAL(18,2)` (exact, order-independent)
  *    and only the final value is cast to double — identical bits in Spark
  *    and DuckDB regardless of row/partition order;
  *  - every result carries an ORDER BY on its full key;
  *  - CI math is the same closed-form expression text in both engines over
  *    those exact moments.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** included in the per-round Bench headline set */
    headline: Boolean = false)

/** Oracle-SQL fragments shared across inventory files. */
object OracleSnippets {
  /** Shared-shingle BLOCKED exact-Jaccard pair CTEs over `documents`
    * (round-8 verdict item 7 — replaces the all-pairs `a JOIN b ON
    * a.doc_id < b.doc_id` form that made the sf0.1 oracle quadratic):
    * any pair with J >= t > 0 shares at least one shingle, so joining on
    * the exploded distinct shingles and counting matches loses nothing;
    * `inter` and `na + nb - inter` are the SAME two exact integers
    * `len(list_intersect)` / `len(list_distinct(list_concat))` computed,
    * so the one double division is bit-identical (verified: identical
    * rows at sf0.01, ~83× faster; 1.05 s at sf0.1 vs a skipped oracle).
    * Yields CTE `pr(id_a, id_b, na, nb, inter)`. */
  val blockedJaccardCtes: String =
    "w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), " +
    "sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM w), " +
    "ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh), " +
    "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb, COUNT(*) AS inter FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)"

  /** The exact Jaccard of a `pr` row — divide AFTER the integer
    * arithmetic, one correctly-rounded double op per engine. */
  val blockedJaccardExpr: String =
    "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)"

  /** Replay of [[graft.operators.Skew.priorityPerKey]] over lineitem's row
    * key, grouped by `l_returnflag` and weighted by `l_extendedprice`:
    * per group the top `k` + 1 priorities (ties by ascending key), the
    * threshold τ, and `Σ max(w, τ)` over the top `k` through DECIMAL,
    * named `sumAlias`, with the sample size named `nAlias`. */
  def priorityByReturnFlag(k: Int, sumAlias: String = "sum_est",
      nAlias: String = "n_used"): String =
    s"""WITH p AS (SELECT l_returnflag, ${Tables.lineitemKey.sql} AS key, CAST(l_extendedprice AS DOUBLE) AS w FROM lineitem), q AS (SELECT l_returnflag, key, w, w * 1000003.0 / (((key % 1000003) * 1299709 + 104729) % 1000003 + 1) AS prio FROM p), r AS (SELECT l_returnflag, key, w, prio, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY prio DESC, key ASC) AS rn FROM q QUALIFY rn <= ${k + 1}), t AS (SELECT l_returnflag, CASE WHEN COUNT(*) = ${k + 1} THEN MIN(prio) ELSE 0.0 END AS tau FROM r GROUP BY 1) SELECT r.l_returnflag, CAST(SUM(CAST(ROUND(GREATEST(w, tau), 4) AS DECIMAL(28,4))) AS DOUBLE) AS $sumAlias, COUNT(*) AS $nAlias FROM r JOIN t ON r.l_returnflag = t.l_returnflag WHERE rn <= $k GROUP BY 1 ORDER BY 1"""
}

object Inventory {
  import graft.Tables._

  /** Exact decimal view of a monetary column (order-independent sums).
    * Round-15: the money_dec kernel — same DECIMAL(18,2) value for every
    * double input (FastDecimalSpec property-locks bit-identity against
    * `cast`), without Cast's per-row Double.toString + BigDecimal
    * allocations (guide: no allocating expression in the hot path;
    * measured 2.4× on the q01 aggregate). */
  private def dec(c: String): Column =
    graft.functions.MoneyDec.dec(col(c), 18, 2)

  // ---------------------------------------------------------------------
  // Exact aggregates (reference A1/A2, P1/P2, A5, A10)
  // ---------------------------------------------------------------------

  private val exactQueries: Seq[QueryDef] = Seq(
    QueryDef("q01_sum_exact",
      (s, d) => lineitem(s, d)
        .agg(sum(dec("l_extendedprice")).cast("double").as("sum_price")),
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM lineitem"),
      headline = true),

    QueryDef("q02_count_exact",
      (s, d) => lineitem(s, d).agg(count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM lineitem")),

    QueryDef("q03_avg_exact",
      (s, d) => lineitem(s, d)
        .agg((sum(dec("l_quantity")).cast("double") / count(col("l_quantity"))).as("avg_qty")),
      Some("SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty FROM lineitem")),

    QueryDef("q04_sum_where",
      (s, d) => lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .agg(sum(dec("l_extendedprice")).cast("double").as("sum_price")),
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM lineitem WHERE l_returnflag = 'R'")),

    QueryDef("q05_sum_range_where",
      (s, d) => lineitem(s, d)
        .filter(col("l_extendedprice").between(1000.0, 50000.0))
        .agg(sum(dec("l_extendedprice")).cast("double").as("sum_price"),
          count(lit(1)).as("cnt")),
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, COUNT(*) AS cnt FROM lineitem WHERE l_extendedprice BETWEEN 1000.0 AND 50000.0")),

    QueryDef("q06_groupby_sum",
      (s, d) => QueryOps.orderedSmall(lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(dec("l_extendedprice")).cast("double").as("sum_price")),
        col("l_returnflag")),
      Some("SELECT l_returnflag, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      headline = true),

    QueryDef("q07_groupby_avg_where",
      (s, d) => lineitem(s, d)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg((sum(dec("l_quantity")).cast("double") / count(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag")),
      Some("SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty, COUNT(*) AS cnt FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag ORDER BY l_returnflag")),

    QueryDef("q08_distinct_groups",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag")).distinct().orderBy(col("l_returnflag")),
      Some("SELECT DISTINCT l_returnflag FROM lineitem ORDER BY l_returnflag")),

    QueryDef("q09_multi_agg",
      (s, d) => lineitem(s, d).agg(
        sum(dec("l_extendedprice")).cast("double").as("sum_price"),
        count(lit(1)).as("cnt"),
        (sum(dec("l_extendedprice")).cast("double") / count(col("l_extendedprice"))).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price")),
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, COUNT(*) AS cnt, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price, MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price FROM lineitem"))
  )

  // ---------------------------------------------------------------------
  // Approximate scaled aggregates — systematic key-mod sampling
  // (reference A3 scaling contract over the R2/R3/R7/R8 stride family)
  // ---------------------------------------------------------------------

  private val approxQueries: Seq[QueryDef] = Seq(
    QueryDef("q10_approx_sum_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        sf.df.agg((sum(dec("l_extendedprice")).cast("double") * lit(sf.scaleFactor)).as("sum_price_est"))
      },
      Some(s"SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 10.0 AS sum_price_est FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0"),
      headline = true),

    QueryDef("q11_approx_count_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        sf.df.agg((count(lit(1)) * lit(10L)).as("cnt_est"))
      },
      Some(s"SELECT COUNT(*) * 10 AS cnt_est FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0")),

    QueryDef("q12_approx_avg_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        sf.df.agg((sum(dec("l_quantity")).cast("double") / count(col("l_quantity"))).as("avg_qty_est"))
      },
      Some(s"SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty_est FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0")),

    QueryDef("q13_approx_groupby_sum_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        QueryOps.orderedSmall(sf.df.groupBy(col("l_returnflag"))
          .agg((sum(dec("l_extendedprice")).cast("double") * lit(10.0)).as("sum_price_est")),
          col("l_returnflag"))
      },
      Some(s"SELECT l_returnflag, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 10.0 AS sum_price_est FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0 GROUP BY l_returnflag ORDER BY l_returnflag"),
      headline = true),

    QueryDef("q14_approx_sum_where_sys20",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 20L, offset = 3L)
        sf.df.filter(col("l_returnflag") === "R")
          .agg((sum(dec("l_extendedprice")).cast("double") * lit(20.0)).as("sum_price_est"))
      },
      Some(s"SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 20.0 AS sum_price_est FROM lineitem WHERE ${lineitemKey.sql} % 20 = 3 AND l_returnflag = 'R'")),

    QueryDef("q15_block_sample_sum",
      // cluster sampling over *consecutive orders* (the physical layout unit),
      // not the mixed key — whole blocks of 16 orderkeys, every 4th block.
      (s, d) => {
        val sf = Sampling.block(lineitem(s, d), col("l_orderkey"), blockSize = 16L, skip = 4L)
        sf.df.agg((sum(dec("l_extendedprice")).cast("double") * lit(4.0)).as("sum_price_est"),
          (count(lit(1)) * lit(4L)).as("cnt_est"))
      },
      Some(s"SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 4.0 AS sum_price_est, COUNT(*) * 4 AS cnt_est FROM lineitem WHERE (l_orderkey // 16) % 4 = 0")),

    QueryDef("q16_stratified_sys_avg",
      (s, d) => {
        // PROPORTIONAL-allocation stratified-systematic: one shared step, so
        // each stratum contributes ∝ its size (n_h ≈ N_h/step). The
        // reference's actual R18 equal-SIZE allocation over value ntiles is
        // q43_stratified_equal_alloc.
        val sf = Sampling.stratifiedSystematic(lineitem(s, d), "l_returnflag", lineitemKey.column, step = 5L)
        sf.df.groupBy(col("l_returnflag"))
          .agg((sum(dec("l_quantity")).cast("double") / count(col("l_quantity"))).as("avg_qty_est"),
            count(lit(1)).as("n_samples"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty_est, COUNT(*) AS n_samples FROM lineitem WHERE ${lineitemKey.sql} % 5 = 0 GROUP BY l_returnflag ORDER BY l_returnflag"))
  )

  // ---------------------------------------------------------------------
  // Confidence intervals (reference A6/A7, moment sketch, B2 corrected)
  // ---------------------------------------------------------------------

  /** Oracle-side mirror of Estimators.ciProjection for SUM, over exact
    * decimal moments. Keep the expression text in lockstep with
    * graft.exec.Estimators — identical IEEE op order in both engines. */
  private def ciSumOracle(step: Long, valueCol: String, where: String, group: Option[String]): String = {
    val g = group.map(c => s"$c, ").getOrElse("")
    val gby = group.map(c => s" GROUP BY $c ORDER BY $c").getOrElse("")
    s"""WITH m AS (
       |  SELECT ${g}CAST(COUNT($valueCol) AS DOUBLE) AS n,
       |         CAST(SUM(CAST($valueCol AS DECIMAL(18,2))) AS DOUBLE) AS s,
       |         CAST(SUM(CAST($valueCol AS DECIMAL(18,2)) * CAST($valueCol AS DECIMAL(18,2))) AS DOUBLE) AS s2
       |  FROM lineitem WHERE $where$gby
       |)
       |SELECT ${g}s * $step.0 AS sum_est,
       |       s * $step.0 - 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - (s * s) / GREATEST(n, 1.0)) / GREATEST(n - 1.0, 1.0) ELSE 0.0 END) / GREATEST(n, 1.0)) * $step.0 * n AS sum_est_ci_lower,
       |       s * $step.0 + 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - (s * s) / GREATEST(n, 1.0)) / GREATEST(n - 1.0, 1.0) ELSE 0.0 END) / GREATEST(n, 1.0)) * $step.0 * n AS sum_est_ci_upper,
       |       CAST(n AS BIGINT) AS sum_est_n
       |FROM m""".stripMargin.replaceAll("\n", " ")
  }

  private def ciQueries: Seq[QueryDef] = Seq(
    QueryDef("q17_ci_sum_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        Estimators.ciAgg(sf, AggKind.Sum, dec("l_extendedprice"), "sum_est")
      },
      Some(ciSumOracle(10, "l_extendedprice", s"${lineitemKey.sql} % 10 = 0", None))),

    QueryDef("q18_ci_avg_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        Estimators.ciAgg(sf, AggKind.Avg, dec("l_quantity"), "avg_est")
      },
      Some(s"""WITH m AS (SELECT CAST(COUNT(l_quantity) AS DOUBLE) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2 FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0) SELECT s / GREATEST(n, 1.0) AS avg_est, s / GREATEST(n, 1.0) - 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - (s * s) / GREATEST(n, 1.0)) / GREATEST(n - 1.0, 1.0) ELSE 0.0 END) / GREATEST(n, 1.0)) AS avg_est_ci_lower, s / GREATEST(n, 1.0) + 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - (s * s) / GREATEST(n, 1.0)) / GREATEST(n - 1.0, 1.0) ELSE 0.0 END) / GREATEST(n, 1.0)) AS avg_est_ci_upper, CAST(n AS BIGINT) AS avg_est_n FROM m""")),

    QueryDef("q19_ci_groupby_sum_sys10",
      (s, d) => {
        val sf = Sampling.systematic(lineitem(s, d), lineitemKey.column, step = 10L)
        Estimators.ciAggBy(sf, AggKind.Sum, dec("l_extendedprice"),
          Seq(col("l_returnflag")), "sum_est").orderBy(col("l_returnflag"))
      },
      Some(ciSumOracle(10, "l_extendedprice", s"${lineitemKey.sql} % 10 = 0", Some("l_returnflag"))))
  )

  // ---------------------------------------------------------------------
  // Design-aware statistics (round-2): cluster CI, Neyman allocation,
  // equal-size value-ntile stratification (reference R18's actual design)
  // ---------------------------------------------------------------------

  private val designQueries: Seq[QueryDef] = Seq(
    QueryDef("q41_block_ci_sum",
      // same 1-in-4 block design as q15, but the CI uses BETWEEN-BLOCK
      // variance (Estimators.blockCiSum) — the SRS formula under-covers on
      // clustered data (EstimatorSpec demonstrates)
      (s, d) => {
        val sf = Sampling.block(lineitem(s, d), col("l_orderkey"), blockSize = 16L, skip = 4L)
        Estimators.blockCiSum(sf.df, floor(col("l_orderkey") / lit(16L)),
          col("l_extendedprice"), skip = 4.0, alias = "sum_est")
      },
      Some("""WITH b AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS t FROM lineitem WHERE (l_orderkey // 16) % 4 = 0 GROUP BY (l_orderkey // 16)), m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m, CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(t * t) AS DOUBLE) AS st2 FROM b) SELECT st * 4.0 AS sum_est, st * 4.0 - 1.96 * (4.0 * SQRT((1.0 - 0.25) * m * (CASE WHEN m > 1.0 THEN (st2 - (st * st) / GREATEST(m, 1.0)) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END))) AS sum_est_ci_lower, st * 4.0 + 1.96 * (4.0 * SQRT((1.0 - 0.25) * m * (CASE WHEN m > 1.0 THEN (st2 - (st * st) / GREATEST(m, 1.0)) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END))) AS sum_est_ci_upper, CAST(m AS BIGINT) AS sum_est_m_blocks FROM m""")),

    QueryDef("q48_block_ci_avg",
      // AVG twin of q41: ratio estimator over block totals with linearized
      // variance — SRS AVG CI on the same rows understates on clustered data
      (s, d) => {
        val sf = Sampling.block(lineitem(s, d), col("l_orderkey"), blockSize = 16L, skip = 4L)
        Estimators.blockCiAvg(sf.df, floor(col("l_orderkey") / lit(16L)),
          col("l_extendedprice"), skip = 4.0, alias = "avg_est")
      },
      Some("""WITH b AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS t, COUNT(*) AS nb FROM lineitem WHERE (l_orderkey // 16) % 4 = 0 GROUP BY (l_orderkey // 16)), m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m, CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(nb) AS DOUBLE) AS sn, CAST(SUM(t * t) AS DOUBLE) AS st2, CAST(SUM(nb * nb) AS DOUBLE) AS sn2, CAST(SUM(t * nb) AS DOUBLE) AS stn FROM b) SELECT st / sn AS avg_est, st / sn - 1.96 * SQRT(((1.0 - 0.25) * (CASE WHEN m > 1.0 THEN (st2 - 2.0 * (st / sn) * stn + (st / sn) * (st / sn) * sn2) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END)) / (m * ((sn / m) * (sn / m)))) AS avg_est_ci_lower, st / sn + 1.96 * SQRT(((1.0 - 0.25) * (CASE WHEN m > 1.0 THEN (st2 - 2.0 * (st / sn) * stn + (st / sn) * (st / sn) * sn2) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END)) / (m * ((sn / m) * (sn / m)))) AS avg_est_ci_upper, CAST(m AS BIGINT) AS avg_est_m_blocks FROM m""")),

    QueryDef("q145_file_block_ci",
      // the `--method file` estimator gated end-to-end: rows carry a
      // deterministic "file" assignment (orderkey ranges ≈ equal-sized
      // write batches), every 4th file (offset 1) is kept, and the
      // design-honest between-FILE variance CI (Estimators.blockCiSum with
      // file ids as blocks) is computed over the kept files — exactly the
      // estimator SpecExecutor runs over real part-files via
      // FileSampling.fromFiles (there the assignment is physical, here
      // it is key-derived so DuckDB can replay it; SpecExecutorSpec
      // covers the physical route over a multi-file temp table).
      // value is l_quantity (not price): block totals stay small enough
      // that t·t and Σt² remain exactly double-representable at sf0.1
      // (price totals overflow DECIMAL(18) squaring in the oracle and
      // push Σt² past 2^53 where decimal→double rounding diverges)
      (s, d) => {
        val fid = floor(col("l_orderkey") / lit(400L))
        val sampled = lineitem(s, d).filter(pmod(fid, lit(4L)) === 1)
        Estimators.blockCiSum(sampled, fid, col("l_quantity"),
          skip = 4.0, alias = "sum_est")
      },
      Some("""WITH b AS (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS t FROM lineitem WHERE (l_orderkey // 400) % 4 = 1 GROUP BY (l_orderkey // 400)), m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m, CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(t * t) AS DOUBLE) AS st2 FROM b) SELECT st * 4.0 AS sum_est, st * 4.0 - 1.96 * (4.0 * SQRT((1.0 - 0.25) * m * (CASE WHEN m > 1.0 THEN (st2 - (st * st) / GREATEST(m, 1.0)) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END))) AS sum_est_ci_lower, st * 4.0 + 1.96 * (4.0 * SQRT((1.0 - 0.25) * m * (CASE WHEN m > 1.0 THEN (st2 - (st * st) / GREATEST(m, 1.0)) / GREATEST(m - 1.0, 1.0) ELSE 0.0 END))) AS sum_est_ci_upper, CAST(m AS BIGINT) AS sum_est_m_blocks FROM m""")),

    QueryDef("q148_bootstrap_ci",
      // Poisson-bootstrap percentile CI (Bootstrap.bootstrapSumCi): 50
      // hash-derived Poisson(1) replicas over the 1-in-10 systematic
      // sample, one scan, B+2 partial-agg sums. Fully deterministic
      // (integer threshold ladder) → straight hash oracle, no bound trick:
      // DuckDB replays every multiplier and quantile_cont ≡ percentile
      // (q52 identity). Decimal replica sums keep order independence.
      (s, d) => graft.exec.Bootstrap.bootstrapSumCi(lineitem(s, d),
        dec("l_extendedprice"), lineitemKey.column, step = 10L, replicas = 50),
      Some {
        val hb = graft.exec.Bootstrap.replicaHashSql("h0", "b")
        val mult = graft.exec.Bootstrap.multiplierSql("hb")
        s"""WITH s AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS x, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc, (${lineitemKey.sql} % ${graft.exec.Bootstrap.P}) AS h0 FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), e AS (SELECT xc, b, $hb AS hb FROM s CROSS JOIN (SELECT unnest(range(50)) AS b) bs), r AS (SELECT b, (CAST(SUM(xc * $mult) AS DOUBLE) / 100.0) * 10 AS rep FROM e GROUP BY b), m AS (SELECT CAST(SUM(x) AS DOUBLE) * 10 AS sum_est, COUNT(*) AS n_samples FROM s) SELECT sum_est, quantile_cont(rep, 0.025) AS ci_lower, quantile_cont(rep, 0.975) AS ci_upper, n_samples, 50 AS n_replicas FROM m, r GROUP BY sum_est, n_samples"""
      }),

    QueryDef("q42_neyman_stratified",
      // deterministic Neyman: per-stratum systematic steps derived from
      // EXACT pilot moments (fixed IEEE op order both engines) — the
      // driver-gated variant of Sampling.neymanStratified
      (s, d) => {
        val (sampled, steps) = Sampling.neymanSystematic(lineitem(s, d),
          "l_returnflag", col("l_extendedprice"), lineitemKey.column, totalFraction = 0.1)
        val stepCol = steps.tail.foldLeft(
          when(col("l_returnflag") === steps.head._1, lit(steps.head._2))) {
          case (acc, (k, st)) => acc.when(col("l_returnflag") === k, lit(st))
        }.otherwise(lit(1L))
        sampled.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_samples"),
            sum(dec("l_extendedprice")).cast("double").as("s"))
          .select(col("l_returnflag"), stepCol.as("step_h"), col("n_samples"),
            (col("s") * stepCol.cast("double")).as("sum_price_est"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH st AS (SELECT l_returnflag AS flag, CAST(COUNT(l_extendedprice) AS DOUBLE) AS n, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2 FROM lineitem GROUP BY 1), w AS (SELECT flag, n, n * GREATEST(CASE WHEN n > 1.0 THEN SQRT((s2 - s * s / n) / (n - 1.0)) ELSE 0.0 END, 1e-9) AS wgt FROM st), tot AS (SELECT ((0.0 + MAX(CASE WHEN flag = 'A' THEN n END)) + MAX(CASE WHEN flag = 'N' THEN n END)) + MAX(CASE WHEN flag = 'R' THEN n END) AS totn, ((0.0 + MAX(CASE WHEN flag = 'A' THEN wgt END)) + MAX(CASE WHEN flag = 'N' THEN wgt END)) + MAX(CASE WHEN flag = 'R' THEN wgt END) AS totw FROM w), steps AS (SELECT flag, GREATEST(1, CAST(FLOOR(1.0 / LEAST(1.0, GREATEST(0.01, 0.1 * totn * wgt / (totw * n))) + 0.5) AS BIGINT)) AS step_h FROM w, tot) SELECT l_returnflag, step_h, COUNT(*) AS n_samples, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * CAST(step_h AS DOUBLE) AS sum_price_est FROM lineitem JOIN steps ON l_returnflag = steps.flag WHERE ${lineitemKey.sql} % step_h = 0 GROUP BY 1, 2 ORDER BY 1""")),

    QueryDef("q43_stratified_equal_alloc",
      // reference R18's actual design (custom_bplus_db.cpp:1331-1379): sort
      // by amount, cut 4 equal ntile strata, 500 evenly-spaced samples EACH
      (s, d) => {
        val sampled = Sampling.equalAllocationStratified(lineitem(s, d),
          col("l_extendedprice"), lineitemKey.column, strataCount = 4, samplesPerStratum = 500)
        sampled.groupBy(col("stratum"), col("n_h"))
          .agg(count(lit(1)).as("n_sampled"),
            (sum(dec("l_extendedprice")).cast("double") / count(lit(1))).as("avg_price_est"))
          .select(col("stratum"), col("n_h"), col("n_sampled"), col("avg_price_est"),
            (col("avg_price_est") * col("n_h").cast("double")).as("sum_price_est"))
          .orderBy(col("stratum"))
      },
      Some(s"""WITH ranked AS (SELECT l_extendedprice, ${lineitemKey.sql} AS k, NTILE(4) OVER (ORDER BY l_extendedprice, ${lineitemKey.sql}) AS stratum FROM lineitem), rr AS (SELECT l_extendedprice, stratum, ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY l_extendedprice, k) AS rn, COUNT(*) OVER (PARTITION BY stratum) AS n_h FROM ranked), samp AS (SELECT * FROM rr WHERE (rn - 1) % GREATEST(1, CAST(FLOOR(CAST(n_h AS DOUBLE) / 500) AS BIGINT)) = 0 AND rn <= GREATEST(1, CAST(FLOOR(CAST(n_h AS DOUBLE) / 500) AS BIGINT)) * 500) SELECT stratum, n_h, COUNT(*) AS n_sampled, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price_est, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * CAST(n_h AS DOUBLE) AS sum_price_est FROM samp GROUP BY 1, 2 ORDER BY 1"""))
  )

  // ---------------------------------------------------------------------

  val all: Seq[QueryDef] =
    exactQueries ++ approxQueries ++ ciQueries ++ designQueries ++
      InventoryPipeline.all ++ InventoryExtensions.all ++ InventoryCuration.all ++
      InventoryOps.all ++ InventoryGovernance.all ++ InventoryAnalytics.all ++
      InventoryFrontier.all ++ InventoryScale.all

  def byName(name: String): QueryDef = all.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(name))
}
