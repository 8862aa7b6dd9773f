package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{AggKind, SamplingStrategy}

/** Scale-up estimators and CLT confidence intervals, as single-pass
  * DataFrame aggregations.
  *
  * Semantics follow the reference's *documented* contract
  * (parser.h:4-16): SUM and COUNT estimates scale by 1/f, AVG does not.
  * The CI computation is the moment sketch of executor.cpp:130-200 —
  * one pass over the sample computing (n, Σx, Σx²) then
  * mean, var = (Σx² − (Σx)²/n)/(n−1), se = √(var/n), margin = z·se —
  * with bug B2 corrected (SURVEY §2.6): the SUM branch scales the sample
  * *sum* (and its margin by N̂ = scale·n), never the mean.
  *
  * Everything here is a `groupBy().agg()` over codegen'd built-ins: one
  * shuffle of pre-aggregated partials per query (Spark's partial/final
  * HashAggregate), which is exactly the reference's thread-local
  * accumulate + merge design (custom_bplus_db.cpp:1962-2048) generalized
  * to a cluster.
  */
object Estimators {

  /** z-score lookup matching the reference (executor.cpp:188-189,
    * custom_bplus_db.cpp:911-912). */
  def zScore(confidence: Double): Double =
    if (confidence >= 0.99) 2.576
    else if (confidence >= 0.95) 1.96
    else 1.645

  /** The aggregate expression for `agg` over `value`, scaled per contract.
    *
    * Note on estimators: ×(1/f) is Horvitz-Thompson — unbiased for any
    * design, but under *Bernoulli* sampling a SUM estimate inherits the
    * binomial noise of the realized sample size (≈ ±1/√n relative). The
    * key-mod systematic designs used by the oracle queries have
    * deterministic n, where HT ≡ the ratio estimator. When the population
    * size is known (adaptive path), AdaptiveExecutor uses Σx·(N/n). */
  def scaledExpr(agg: AggKind, value: Column, scale: Double): Column = agg match {
    case AggKind.Sum   => sum(value) * lit(scale)
    case AggKind.Count => count(value).cast("double") * lit(scale)
    case AggKind.Avg   => avg(value) // never scaled
    case AggKind.Min   => min(value) // order statistics don't scale
    case AggKind.Max   => max(value)
  }

  /** Scalar scaled aggregate: one row, one column `alias`. */
  def scaledAgg(sf: SampledFrame, agg: AggKind, value: Column, alias: String): DataFrame =
    sf.df.agg(scaledExpr(agg, value, sf.scaleFactor).as(alias))

  /** Grouped scaled aggregate (reference A5 — the per-group thread fan-out of
    * executor.cpp:60-127 is one shuffle here). */
  def scaledAggBy(sf: SampledFrame, agg: AggKind, value: Column,
      groupCols: Seq[Column], alias: String): DataFrame =
    sf.df.groupBy(groupCols: _*).agg(scaledExpr(agg, value, sf.scaleFactor).as(alias))

  /** CI columns for an aggregate over sample moments. Input columns must be
    * `n` (count), `s` (sum), `s2` (sum of squares); emits
    * `alias`, `{alias}_ci_lower`, `{alias}_ci_upper`, `{alias}_n`. */
  private def ciProjection(agg: AggKind, scale: Double, z: Double, alias: String,
      n: Column, s: Column, s2: Column, deterministicN: Boolean = false): Seq[Column] = {
    // Denominators guarded with greatest(...): ANSI mode (Spark 4 default)
    // throws DIVIDE_BY_ZERO, and common-subexpression elimination hoists the
    // division out of the `when` guard — so the guard must live in the
    // denominator itself. Semantics unchanged for n >= 2; n <= 1 yields a
    // zero-width margin (reference fallback, executor.cpp:241-246). The
    // DuckDB oracle mirrors the same GREATEST(..) text for bit-identical CI.
    val nn = greatest(n, lit(1.0))
    val mean = s / nn
    val variance = when(n > 1, (s2 - (s * s) / nn) / greatest(n - lit(1.0), lit(1.0)))
      .otherwise(lit(0.0))
    val se = sqrt(variance / nn)
    val (value, margin) = agg match {
      case AggKind.Avg   => (mean, lit(z) * se)
      // SUM: value = scale·Σx ; margin = z·se·N̂, N̂ = scale·n  (B2 corrected)
      case AggKind.Sum   => (s * lit(scale), lit(z) * se * lit(scale) * n)
      // COUNT: N̂ = scale·n. Margin is the Bernoulli binomial term
      // z·scale·√(n·(1−f)) ONLY for random designs; key-mod designs
      // (systematic/block/dual-rate) have deterministic n, so the COUNT
      // estimate carries no sampling noise — margin 0.
      case AggKind.Count =>
        val f = 1.0 / scale
        val margin =
          if (deterministicN) lit(0.0)
          else lit(z) * lit(scale) * sqrt(n * lit(1.0 - f))
        (n * lit(scale), margin)
      case other =>
        throw new IllegalArgumentException(s"CI undefined for $other")
    }
    Seq(value.as(alias),
      (value - margin).as(s"${alias}_ci_lower"),
      (value + margin).as(s"${alias}_ci_upper"),
      n.cast("long").as(s"${alias}_n"))
  }

  /** True when the design's realized sample size is a deterministic function
    * of the population (key-mod strides), not a random variable. */
  def hasDeterministicN(strategy: SamplingStrategy): Boolean = strategy match {
    case SamplingStrategy.Exact                 => true
    case _: SamplingStrategy.Systematic         => true
    case _: SamplingStrategy.Block              => true
    case _: SamplingStrategy.DualRate           => true
    case _                                      => false
  }

  /** Scalar aggregate with 95% (or chosen) CI — reference A6, single pass. */
  def ciAgg(sf: SampledFrame, agg: AggKind, value: Column, alias: String,
      confidence: Double = 0.95): DataFrame = {
    val z = zScore(confidence)
    val moments = sf.df.agg(
      count(value).cast("double").as("n"),
      sum(value).cast("double").as("s"),
      sum(value * value).cast("double").as("s2"))
    moments.select(ciProjection(agg, sf.scaleFactor, z, alias,
      col("n"), col("s"), col("s2"), hasDeterministicN(sf.strategy)): _*)
  }

  /** Grouped aggregate with CI — reference A7, one shuffle. Groups with
    * n < 2 get a degenerate zero-width margin (reference falls back to the
    * plain value, executor.cpp:241-246). */
  def ciAggBy(sf: SampledFrame, agg: AggKind, value: Column, groupCols: Seq[Column],
      alias: String, confidence: Double = 0.95): DataFrame = {
    val z = zScore(confidence)
    val moments = sf.df.groupBy(groupCols: _*).agg(
      count(value).cast("double").as("n"),
      sum(value).cast("double").as("s"),
      sum(value * value).cast("double").as("s2"))
    val groupNames = moments.columns.dropRight(3).map(col)
    moments.select(groupNames.toIndexedSeq ++ ciProjection(agg, sf.scaleFactor, z, alias,
      col("n"), col("s"), col("s2"), hasDeterministicN(sf.strategy)): _*)
  }

  /** Design-aware CI for CLUSTER (block / file-level) samples — SURVEY
    * §7.4.4's "keep CI computation strategy-aware" requirement. Feeding a
    * clustered sample to [[ciAgg]] yields an SRS variance that ignores
    * intra-cluster correlation and under-covers; the correct unit of
    * variance is the BLOCK TOTAL:
    *
    *   T̂   = skip · Σ_b t_b              (t_b = total of sampled block b)
    *   s_t² = (Σt² − (Σt)²/m) / (m−1)    (variance over m block totals)
    *   se   = skip · √((1 − f) · m · s_t²),  f = 1/skip   (M̂ = m·skip blocks)
    *   CI   = T̂ ± z·se
    *
    * Block totals go through exact decimal sums, so the per-block moments —
    * and therefore the whole CI — are deterministic and oracle-matchable.
    * Two aggregations: per-block totals (one shuffle on blockCol — map-side
    * combined, shuffle ∝ #blocks), then a scalar moment pass. Emits
    * `alias`, `{alias}_ci_lower`, `{alias}_ci_upper`, `{alias}_m_blocks`. */
  def blockCiSum(sampledDf: DataFrame, blockCol: Column, value: Column,
      skip: Double, alias: String, confidence: Double = 0.95): DataFrame = {
    val z = zScore(confidence)
    val f = 1.0 / skip
    val blocks = sampledDf.groupBy(blockCol.as("__block"))
      .agg(sum(value.cast("decimal(18,2)")).cast("decimal(18,2)").as("t"))
    val moments = blocks.agg(
      count(lit(1)).cast("double").as("m"),
      sum(col("t")).cast("double").as("st"),
      sum(col("t") * col("t")).cast("double").as("st2"))
    val m = col("m")
    val varT = when(m > 1,
      (col("st2") - (col("st") * col("st")) / greatest(m, lit(1.0))) /
        greatest(m - lit(1.0), lit(1.0))).otherwise(lit(0.0))
    val est = col("st") * lit(skip)
    val se = lit(skip) * sqrt((lit(1.0) - lit(f)) * m * varT)
    moments.select(
      est.as(alias),
      (est - lit(z) * se).as(s"${alias}_ci_lower"),
      (est + lit(z) * se).as(s"${alias}_ci_upper"),
      m.cast("long").as(s"${alias}_m_blocks"))
  }

  /** Design-aware CI for the MEAN under cluster sampling — the ratio
    * estimator with linearized (Taylor) variance over block totals
    * (Cochran ch. 3; completes [[blockCiSum]] for AVG):
    *
    *   ȳ    = Σt_b / Σn_b
    *   s_e² = (Σt² − 2·ȳ·Σtn + ȳ²·Σn²) / (m−1)     (residual variance)
    *   se   = √( (1−f)·s_e² / (m·n̄²) ),  n̄ = Σn_b/m,  f = 1/skip
    *
    * All moments flow through exact decimal/integer sums → deterministic
    * and oracle-matchable. Same two-aggregation shape as [[blockCiSum]]. */
  def blockCiAvg(sampledDf: DataFrame, blockCol: Column, value: Column,
      skip: Double, alias: String, confidence: Double = 0.95): DataFrame = {
    val z = zScore(confidence)
    val f = 1.0 / skip
    val blocks = sampledDf.groupBy(blockCol.as("__block"))
      .agg(sum(value.cast("decimal(18,2)")).cast("decimal(18,2)").as("t"),
        count(lit(1)).as("nb"))
    val moments = blocks.agg(
      count(lit(1)).cast("double").as("m"),
      sum(col("t")).cast("double").as("st"),
      sum(col("nb")).cast("double").as("sn"),
      sum(col("t") * col("t")).cast("double").as("st2"),
      sum(col("nb") * col("nb")).cast("double").as("sn2"),
      sum(col("t") * col("nb")).cast("double").as("stn"))
    val m = col("m")
    val ybar = col("st") / col("sn")
    val se2 = when(m > 1,
      (col("st2") - lit(2.0) * ybar * col("stn") + ybar * ybar * col("sn2")) /
        greatest(m - lit(1.0), lit(1.0))).otherwise(lit(0.0))
    val nbar = col("sn") / m
    val se = sqrt(((lit(1.0) - lit(f)) * se2) / (m * (nbar * nbar)))
    moments.select(
      ybar.as(alias),
      (ybar - lit(z) * se).as(s"${alias}_ci_lower"),
      (ybar + lit(z) * se).as(s"${alias}_ci_upper"),
      m.cast("long").as(s"${alias}_m_blocks"))
  }

  /** Delete-a-group jackknife CI for a scaled SUM (Kott 2001's DAGJK; the
    * replication-based alternative to the closed-form CLT interval —
    * design-agnostic, so it stays honest for estimators whose analytic
    * variance is awkward, e.g. post-stratified or ratio-adjusted sums).
    *
    * The sample is cut into `k` deterministic random groups by
    * `groupIndexCol` (0..k−1, derived from the sampling key so any engine
    * forms identical groups). With ST = Σ_S v and s_j the group-j sum, the
    * delete-one replicate is θ_(j) = scale·(k/(k−1))·(ST − s_j); since
    * θ_(j) is linear in s_j, the spread Σ_j (θ_(j) − θ̄)² collapses
    * algebraically to scale²·(k/(k−1))²·(Σs² − (Σs)²/k), giving
    *
    *   v_JK = ((k−1)/k)·Σ(θ_(j) − θ̄)² = scale²·(k/(k−1))·(Σs² − (Σs)²/k)
    *
    * computed from EXACT decimal group sums (Σs and Σs² sum decimals, not
    * doubles → order-independent, oracle-matchable). Two aggregations:
    * group sums (shuffle ∝ k) then a scalar pass. Emits `alias`,
    * `{alias}_jk_se`, `{alias}_ci_lower/upper`, `{alias}_k`. */
  def jackknifeSum(sampledDf: DataFrame, groupIndexCol: Column, value: Column,
      scale: Double, k: Int, alias: String,
      confidence: Double = 0.95): DataFrame = {
    require(k > 1, "jackknife needs at least 2 groups")
    val z = zScore(confidence)
    val groups = sampledDf.groupBy(groupIndexCol.as("__jk"))
      .agg(sum(value.cast("decimal(18,2)")).cast("decimal(18,2)").as("s"))
    val moments = groups.agg(
      sum(col("s")).cast("double").as("st"),
      sum(col("s") * col("s")).cast("double").as("st2"))
    val kd = lit(k.toDouble)
    val est = col("st") * lit(scale)
    val vjk = lit(scale * scale) * (kd / (kd - lit(1.0))) *
      (col("st2") - col("st") * col("st") / kd)
    val se = sqrt(greatest(vjk, lit(0.0)))
    moments.select(
      est.as(alias),
      se.as(s"${alias}_jk_se"),
      (est - lit(z) * se).as(s"${alias}_ci_lower"),
      (est + lit(z) * se).as(s"${alias}_ci_upper"),
      lit(k).cast("long").as(s"${alias}_k"))
  }

  /** Ratio estimator for a population SUM using an auxiliary variable with
    * a known population total (Cochran ch. 6 — the classic survey-sampling
    * upgrade over plain expansion): T̂_ratio = (Σ_S y / Σ_S x) · X. When y
    * and x are positively correlated (price vs quantity), the ratio
    * estimate inherits the auxiliary's certainty and its variance shrinks
    * by ≈(1−ρ²) vs Horvitz-Thompson. X comes from an exact single-column
    * scan of the population (column pruning makes that the cheap pass at
    * 100 TB — or free when X is carried by table metadata).
    *
    * Emits both estimators so the caller can see the adjustment:
    * `{alias}_ht` (scale·Σy), `{alias}` (ratio), `{alias}_r` (Σy/Σx),
    * `{alias}_x_total`. Decimal sums → scalar double ops only
    * (deterministic, oracle-matchable). */
  def ratioSum(sampledDf: DataFrame, population: DataFrame, y: Column,
      x: Column, scale: Double, alias: String): DataFrame = {
    val sAgg = sampledDf.agg(
      sum(y.cast("decimal(18,2)")).cast("double").as("__sy"),
      sum(x.cast("decimal(18,2)")).cast("double").as("__sx"))
    val xTot = population.agg(
      sum(x.cast("decimal(18,2)")).cast("double").as("__xt"))
    sAgg.crossJoin(xTot).select(
      (col("__sy") / col("__sx") * col("__xt")).as(alias),
      (col("__sy") * lit(scale)).as(s"${alias}_ht"),
      (col("__sy") / col("__sx")).as(s"${alias}_r"),
      col("__xt").as(s"${alias}_x_total"))
  }

  /** Generalized regression (GREG) estimator for a population SUM — the
    * model-assisted upgrade over [[ratioSum]] (Särndal et al., ch. 6): fit
    * the sample OLS slope B of y on x, then correct the sample mean by the
    * known auxiliary mean,
    *
    *   T̂_greg = N · (ȳ_s + B · (X̄ − x̄_s)),
    *   B = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * Unlike the ratio estimator it tolerates a nonzero intercept in the
    * y–x relation; with B=0 it degenerates to post-stratified expansion.
    * N and X̄ come from a count + one-column scan of the population (or
    * table stats). Every moment is an exact decimal sum cast to double
    * once, so the whole expression is deterministic and oracle-matchable.
    * Emits `alias` (GREG), `{alias}_ht`, `{alias}_b` (slope). */
  def regressionSum(sampledDf: DataFrame, population: DataFrame, y: Column,
      x: Column, scale: Double, alias: String): DataFrame = {
    val yd = y.cast("decimal(18,2)")
    val xd = x.cast("decimal(18,2)")
    val sAgg = sampledDf.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(yd).cast("double").as("__sy"),
      sum(xd).cast("double").as("__sx"),
      sum(xd * xd).cast("double").as("__sxx"),
      sum(xd * yd).cast("double").as("__sxy"))
    val pAgg = population.agg(
      count(lit(1)).cast("double").as("__nn"),
      sum(xd).cast("double").as("__xt"))
    val n = col("__n")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    val b = when(den =!= 0.0,
      (n * col("__sxy") - col("__sx") * col("__sy")) / den).otherwise(lit(0.0))
    val ybar = col("__sy") / n
    val xbar = col("__sx") / n
    val xbarPop = col("__xt") / col("__nn")
    sAgg.crossJoin(pAgg).select(
      (col("__nn") * (ybar + b * (xbarPop - xbar))).as(alias),
      (col("__sy") * lit(scale)).as(s"${alias}_ht"),
      b.as(s"${alias}_b"))
  }

  /** Hybrid exact/sampled GROUP BY — the reference's size-based method
    * router (enhanced_aqe_cli.py:116-131: small input → exact, large →
    * sampled) made per-group and distributed:
    *
    *  - pass 1: ONE scan computes each group's exact count and its
    *    sampled sum (a conditional aggregate over the key-mod sample) —
    *    big groups are finished here;
    *  - pass 2: only the rows of small groups (below `minGroupSize`) are
    *    re-aggregated exactly, scoped by a broadcast semi-join, because
    *    a 1/step sample of a tiny group is noise.
    *
    * At 100 TB the second pass streams a sliver of the fact (the small
    * groups) and the big-group estimates never touch the data again —
    * strictly better than either all-exact or all-sampled. Deterministic:
    * the sample is key-mod, the routing rule is an exact count. Emits
    * (key, n_rows, method, sum_est). */
  def hybridGroupSum(df: DataFrame, keyCol: String, value: Column,
      sampleKey: Column, step: Long, minGroupSize: Long): DataFrame = {
    val vd = value.cast("decimal(18,2)")
    // the sampled sum as an aggregate FILTER, not sum(when(…)): a decimal
    // SUM writes its buffer back on every row it is fed, NULL or not, so
    // only the FILTER form skips the unsampled rows
    val base = df.select(col(keyCol), vd.as("__v"),
        (pmod(sampleKey, lit(step)) === 0).as("__in"))
      .groupBy(col(keyCol)).agg(
        count(lit(1)).as("n_rows"),
        expr("sum(__v) FILTER (WHERE __in)").as("__s_samp"))
    val small = base.filter(col("n_rows") < minGroupSize).select(col(keyCol))
    val exactSmall = df.join(broadcast(small), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol)).agg(sum(vd).as("__s_exact"))
    base.join(exactSmall, Seq(keyCol), "left")
      .select(col(keyCol), col("n_rows"),
        when(col("n_rows") < minGroupSize, lit("exact"))
          .otherwise(lit("sampled")).as("method"),
        when(col("n_rows") < minGroupSize,
            col("__s_exact").cast("double"))
          .otherwise(coalesce(col("__s_samp").cast("double"), lit(0.0)) *
            lit(step.toDouble)).as("sum_est"))
      .orderBy(col(keyCol))
  }

  /** Mergeable moment sketch: per-group `(n, s1, s2)` with the sums as
    * EXACT scale-0 decimals — the additive state behind COUNT/SUM/AVG/VAR
    * and their CLT CIs. Like the HLL and bloom sketches, partials for any
    * fine grouping (per day, per file, per source×lang) merge to any
    * coarser one by plain addition ([[mergeMoments]]) with NO rescan and
    * ZERO error — the maintenance pattern for 100 TB rollup tables where
    * recomputing from rows is the cost that matters. `value` must be
    * integer-valued (quantize money to cents first — house decimal rule);
    * s2 = Σv² stays exact in decimal(38,0). */
  def momentSketch(df: DataFrame, value: Column, groupCols: Seq[String]): DataFrame = {
    val vd = value.cast("decimal(18,0)")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(vd).cast("decimal(38,0)").as("s1"),
        sum(vd * vd).cast("decimal(38,0)").as("s2"))
  }

  /** [[momentSketch]] over SIGNED rows (sign ∈ {+1, −1}): the moment sketch
    * is not just a monoid but a GROUP — (n, s1, s2) subtract as exactly as
    * they add — so a CDC delta stream ([[graft.operators.Cdc.deltaRows]])
    * summed here and merged onto yesterday's sketch maintains a rollup
    * incrementally, bit-identical to rebuilding from the new snapshot.
    * Decimal products stay exact for |value| < 1e9 (s2 term ≤ 38 digits). */
  def signedMomentSketch(df: DataFrame, value: Column, sign: Column,
      groupCols: Seq[String]): DataFrame = {
    val vd = value.cast("decimal(18,0)")
    val sd = sign.cast("decimal(18,0)")
    df.groupBy(groupCols.map(col): _*)
      .agg(sum(sign.cast("long")).as("n"),
        sum(sd * vd).cast("decimal(38,0)").as("s1"),
        sum(sd * vd * vd).cast("decimal(38,0)").as("s2"))
  }

  /** Merge moment sketches to a coarser grouping: component-wise addition
    * (the sketch is a commutative monoid — order and partitioning of the
    * partials cannot change the result). */
  def mergeMoments(sketch: DataFrame, coarserCols: Seq[String]): DataFrame =
    sketch.groupBy(coarserCols.map(col): _*)
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("s1")).cast("decimal(38,0)").as("s1"),
        sum(col("s2")).cast("decimal(38,0)").as("s2"))

  /** Project mean and sample variance out of a moment sketch — one double
    * cast per exact sum (q65 rule), divisions guarded inside the
    * expressions (ANSI + CSE). Emits the sketch's group columns plus
    * `n, mean, var_samp`. A group whose rows all vanished between
    * snapshots survives in a merged signed sketch as (n=0, s1=0, s2=0);
    * the rebuild-from-rows twin emits no row for it, so those rows are
    * dropped here to keep the `old ⊕ Δ ≡ rebuild` contract exact. */
  def momentStats(sketch: DataFrame): DataFrame = {
    val groupCols = sketch.columns.filterNot(Set("n", "s1", "s2"))
    val nd = col("n").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val varS = when(col("n") > 1,
      (s2d - s1d * s1d / nd) / greatest(nd - lit(1.0), lit(1.0)))
      .otherwise(lit(0.0))
    sketch.filter(col("n") =!= 0)
      .select(groupCols.map(col) ++ Seq(col("n"),
        (s1d / nd).as("mean"), varS.as("var_samp")): _*)
  }

  /** Relative half-width of the CI in percent — the quantity the adaptive
    * executor compares against the error threshold. */
  def relativeMarginPct(value: Double, lower: Double, upper: Double): Double =
    if (value == 0.0) Double.PositiveInfinity
    else 100.0 * ((upper - lower) / 2.0) / math.abs(value)

  /** Sample-size → confidence heuristic (reference A11,
    * custom_scheduler.cpp:296-305). */
  def confidenceForSampleSize(n: Long): Double =
    if (n >= 1000) 0.95
    else if (n >= 500) 0.90
    else if (n >= 100) 0.85
    else if (n >= 50) 0.80
    else 0.70

  /** Relative-error quality validation (reference A12,
    * custom_scheduler.cpp:307-313). */
  def validateQuality(exact: Double, approx: Double, thresholdPct: Double): Boolean =
    if (exact == 0.0) approx == 0.0
    else 100.0 * math.abs(exact - approx) / math.abs(exact) <= thresholdPct
}
