package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{AggKind, ApproxResult, ApproximationStatus, SamplingStrategy}

/** Adaptive CLT-validated approximate aggregation.
  *
  * Reproduces the *semantics* of the reference's flagship
  * `clt_validated_dual_pointer_sample` (custom_bplus_db.cpp:885-1043) and the
  * dead `AdaptiveSampler` (scheduler.cpp:30-105): sample until the CLT margin
  * of error is within the requested threshold, then stop early; report a
  * STABLE / DRIFTING / INSUFFICIENT_DATA verdict.
  *
  * Mechanics are Spark-first (SURVEY §3.4, §7 M5): where the reference
  * coordinates fast/slow thread pools through atomics, we compute the
  * whole ladder in ONE distributed aggregate and walk it on the driver.
  * Rung `r` of the ladder is a seeded Bernoulli sample at fraction `f_r`
  * (f_0 = the initial fraction, growing geometrically up to the cap);
  * the one scan computes the population count and, for every rung, the
  * moment sketch (n, Σx, Σx²) of the rows that rung keeps. The driver
  * then takes the rungs in order and stops at the first whose relative
  * CI half-width meets the threshold, or at the fraction / round cap.
  * Every row is read once, however many rungs the estimate needs: an
  * early stop saves driver work, not I/O — a row-level Bernoulli design
  * has to decode every row to flip its coin.
  *
  * Drift detection mirrors scheduler.cpp:369-397: consecutive round estimates
  * are cross-validated; if the newest estimate moves more than
  * `driftTolerancePct` relative to the previous round's (its "slow pointer"),
  * the verdict is DRIFTING even when the margin converged.
  *
  * 100 TB posture: one scan stage with no shuffle of rows (the per-rung
  * flags and conditional sums run inside it), a single-row partial
  * aggregate per task, and nothing but the row count and at most three
  * moments per rung reaching the driver.
  */
object AdaptiveExecutor {

  /** Exact-cents view of `value`: the money_dec kernel when the column is
    * DOUBLE (bit-identical to `cast(decimal(18,2))`, FastDecimalSpec —
    * without Cast's per-row Double.toString/BigDecimal allocations on the
    * full ladder scan), plain cast for any other input type (round-15). */
  private[exec] def moneyDec2(df: DataFrame, value: Column): Column =
    if (df.select(value).schema.head.dataType ==
        org.apache.spark.sql.types.DoubleType)
      graft.functions.MoneyDec.dec(value, 18, 2)
    else value.cast("decimal(18,2)")


  final case class Round(fraction: Double, n: Long, estimate: Double,
      ciLower: Double, ciUpper: Double, relMarginPct: Double)

  final case class AdaptiveOutcome(result: ApproxResult, rounds: Seq[Round]) {
    def samplesUsed: Long = result.samplesUsed
  }

  /** The Bernoulli ladder's fractions: f_0 = `initialFraction`, then
    * f_{r+1} = min(f_r · growth, maxFraction), ending at the first rung
    * that reaches the fraction cap or the round cap. */
  private def rungFractions(spec: SamplingStrategy.Adaptive): Vector[Double] = {
    def capped(f: Double, rungs: Int) = f >= spec.maxFraction || rungs >= spec.maxRounds
    var fs = Vector(spec.initialFraction)
    while (!capped(fs.last, fs.size))
      fs :+= math.min(fs.last * spec.growthFactor, spec.maxFraction)
    fs
  }

  def run(df: DataFrame, value: Column, agg: AggKind,
      spec: SamplingStrategy.Adaptive,
      driftTolerancePct: Double = 5.0): AdaptiveOutcome = {
    agg match {
      case AggKind.Sum | AggKind.Avg | AggKind.Count =>
      case other => throw new IllegalArgumentException(s"adaptive CI undefined for $other")
    }
    val t0 = System.nanoTime()
    val z = Estimators.zScore(spec.confidence)
    val fractions = rungFractions(spec)
    // Rung r keeps the rows with rand(seed + r) < f_r — an explicit rand()
    // flag, NOT df.sample: the GraftExtensions auto-scaling rule rewrites
    // bare aggregates over a Sample node (estimator semantics), which
    // would corrupt this moment sketch — these aggregates must stay RAW
    // sample moments. Spark refuses rand() inside an aggregate, so the
    // flags are drawn in a projection first; each rand(seed + r) is drawn
    // once per row, in scan order, as its own per-round filter would.
    val flagged = df.select((value.as("__x") +: fractions.indices.map(r =>
      (rand(spec.seed + r) < fractions(r)).as(s"__f$r"))): _*)
    // Known population size for the ratio estimator Σx·(N/n): under Bernoulli
    // sampling, scaling by 1/f leaves the binomial noise of n itself in a SUM
    // estimate (~±1/√n relative — dominates at small fractions); N/n cancels
    // it (the reference does the same: enhanced_aqe_cli.py:189-200, and
    // SURVEY §2.6 B2). It rides the same aggregate as the rung moments.
    // COUNT's estimate and margin read only n: its sums are not computed.
    val moments = fractions.indices.flatMap { r =>
      val x = when(col(s"__f$r"), col("__x"))
      count(x).cast("double").as(s"n$r") +: (
        if (agg == AggKind.Count) Nil
        else Seq(sum(x).cast("double").as(s"s$r"),
          sum(x * x).cast("double").as(s"s2_$r")))
    }
    val moment = momentsOf(
      flagged.agg(count(lit(1)).cast("double").as("total"), moments: _*).head())
    val totalN = moment("total")

    walkLadder(fractions.size, spec.errorThresholdPct, spec.confidence,
        driftTolerancePct, t0) { r =>
      val fraction = fractions(r)
      val scaleFactor = 1.0 / fraction
      val n = moment(s"n$r")
      val s = moment(s"s$r")
      val s2 = moment(s"s2_$r")
      val mean = if (n > 0) s / n else 0.0
      val variance = if (n > 1) (s2 - s * s / n) / (n - 1) else 0.0
      val se = if (n > 0) math.sqrt(variance / n) else Double.PositiveInfinity
      val (estimate, margin) = agg match {
        case AggKind.Avg   => (mean, z * se)
        // ratio estimator: value = Σx·(N/n), margin = z·se·N  (B2-corrected)
        case AggKind.Sum   =>
          if (n > 0) (s * (totalN / n), z * se * totalN)
          else (0.0, Double.PositiveInfinity)
        case _ => (n * scaleFactor,
          z * scaleFactor * math.sqrt(n * (1.0 - fraction)))
      }
      roundOf(fraction, n, estimate, margin)
    }
  }

  /** The named doubles of a one-row moment aggregate; a missing (COUNT)
    * or NULL (empty rung) sum reads as 0. */
  private def momentsOf(m: Row): String => Double = name =>
    Some(m.schema.fieldNames.indexOf(name)).filter(i => i >= 0 && !m.isNullAt(i))
      .fold(0.0)(m.getDouble(_))

  private def roundOf(fraction: Double, n: Double, estimate: Double,
      margin: Double): Round =
    Round(fraction, n.toLong, estimate, estimate - margin, estimate + margin,
      Estimators.relativeMarginPct(estimate, estimate - margin,
        estimate + margin))

  /** The driver's walk over a ladder whose rungs are already computed:
    * takes rungs `0, 1, …` from `rung` and stops at the first that
    * converges (relative margin within `errorThresholdPct` on n ≥ 50) or
    * at the last of `rungs`, then gives the verdict on the final one.
    *
    * Drift = the rounds statistically disagree: the previous round's CI and
    * the final round's CI don't overlap AND the estimates moved more than
    * the tolerance. (Raw relative-delta alone flags ordinary sampling noise
    * as drift at small n — the CIs quantify expected noise.) */
  private def walkLadder(rungs: Int, errorThresholdPct: Double,
      confidence: Double, driftTolerancePct: Double, t0: Long)(
      rung: Int => Round): AdaptiveOutcome = {
    def converged(r: Round) = r.relMarginPct <= errorThresholdPct && r.n >= 50
    var rounds = Vector(rung(0))
    while (!converged(rounds.last) && rounds.size < rungs)
      rounds :+= rung(rounds.size)

    val last = rounds.last
    val drifted = rounds.size >= 2 && {
      val prev = rounds(rounds.size - 2)
      val disjointCi = prev.ciUpper < last.ciLower || last.ciUpper < prev.ciLower
      val bigMove = prev.estimate != 0.0 &&
        math.abs(last.estimate - prev.estimate) / math.abs(prev.estimate) * 100.0 > driftTolerancePct
      disjointCi && bigMove
    }
    val status =
      if (last.n < 50) ApproximationStatus.InsufficientData
      else if (drifted) ApproximationStatus.Drifting
      else if (last.relMarginPct <= errorThresholdPct) ApproximationStatus.Stable
      else ApproximationStatus.Drifting

    val millis = (System.nanoTime() - t0) / 1000000L
    AdaptiveOutcome(
      ApproxResult(last.estimate, last.ciLower, last.ciUpper, confidence,
        rounds.map(_.n).sum, status, millis),
      rounds)
  }

  private def requireNested(steps: Seq[Long]): Unit =
    require(steps.nonEmpty && steps.zip(steps.tail).forall {
      case (a, b) => a > b && a % b == 0 },
      s"steps must shrink and nest (each divisible by the next): $steps")

  /** The key-mod ladders' one aggregate: per `group` (output as `group`;
    * one row without), `nAll` = count(*) and `nx` = count(value) as
    * longs, `s` = the exact Σvalue (0.0 when no value is non-NULL), and
    * for every rung r the
    * moments `n$r`, `sc$r`, `s2c$r` of the cents `xc` of the rows with
    * `key % steps(r) == 0`: count, Σxc and Σxc², each summed exactly in
    * decimals and cast to double once (0.0 for an empty rung). `sums =
    * false` computes only the counts.
    *
    * Each row lands in one partition `__p`: the first rung whose step
    * divides its key, or `steps.size` for none. The steps nest, so rung
    * r's sample is partitions 0..r, and its moments are the exact sums of
    * those partitions' moments. The partition moments are aggregated with
    * FILTER, not over a conditional input: a decimal SUM writes its
    * buffer back on every row it is fed, NULL or not, and one
    * decimal(38,0) buffer round trip per row and rung cost more CPU than
    * the scans this aggregate replaces. */
  private def keyModMoments(df: DataFrame, value: Column, key: Column,
      steps: Seq[Long], group: Option[Column], sums: Boolean): DataFrame = {
    val last = steps.size
    val xc = (moneyDec2(df, value) * lit(100)).cast("long")
    val partition = steps.indices.foldRight(lit(last)) { (r, rest) =>
      when(pmod(col("__k"), lit(steps(r))) === 0, lit(r)).otherwise(rest) }
    def inPartition(j: Int, agg: String, name: String): Column =
      expr(s"$agg FILTER (WHERE __p = $j)").as(s"${name}_p$j")
    val partitionMoments = (0 to last).flatMap { j =>
      (if (j < last) Seq(inPartition(j, "count(__xc)", "n")) else Nil) ++ (
        if (!sums) Nil
        else inPartition(j, "sum(CAST(__xc AS DECIMAL(28,0)))", "sc") +: (
          if (j < last)
            Seq(inPartition(j, "sum(CAST(__xc * __xc AS DECIMAL(38,0)))", "s2c"))
          else Nil))
    }
    // partitions 0..r of a moment, exactly, then one cast to double
    def upTo(r: Int, name: String): Column =
      (0 to r).map(j => coalesce(col(s"${name}_p$j"), lit(0))).reduce(_ + _)
        .cast("double")
    val keys = group.toSeq.map(_ => col("group"))
    df.select(group.map(_.as("group")).toSeq :+ key.as("__k") :+
        xc.as("__xc"): _*)
      .withColumn("__p", partition)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("nAll"),
        count(col("__xc")).as("nx") +: partitionMoments: _*)
      .select(keys ++ Seq(col("nAll"), col("nx")) ++
        (if (sums) Seq((upTo(last, "sc") / 100.0).as("s")) else Nil) ++
        steps.indices.flatMap(r => upTo(r, "n").as(s"n$r") +: (
          if (sums) Seq(upTo(r, "sc").as(s"sc$r"), upTo(r, "s2c").as(s"s2c$r"))
          else Nil)): _*)
  }

  /** PER-GROUP deterministic CLT ladder — [[runDeterministic]] extended to
    * GROUP BY: every group climbs the same nested key-mod ladder
    * independently, stops at ITS first converged rung, and small groups
    * skip the ladder entirely and go EXACT (q138's route-by-size idea,
    * here with per-group iteration instead of one static fraction).
    *
    * Mechanics: ONE aggregate grouped by `group` ([[keyModMoments]])
    * computes each group's row count, its exact-route count and decimal
    * sum, and for every step the cents moment sketch (n, Σxc, Σxc²) of
    * the rows with `key % step == 0`. One projection then picks
    * each group's first converged rung (or the last) and derives the
    * estimate, CI, cumulative `n_used`, drift check and verdict from
    * that rung and the one before it. Every rung is computed for every
    * group in the one scan: an early stop saves driver work, not scans
    * or jobs — `key % step` runs after decode, so no rung skips I/O.
    *
    * Small groups (fewer than `exactBelow` rows, default 50·min(steps) —
    * below which even the densest rung cannot reach the n ≥ 50 CLT
    * floor) answer from the same aggregate's exact sum: status "Exact",
    * zero-width CI, `rounds_used` 0. This is the honest answer a
    * sampling ladder cannot give.
    *
    * `agg` picks the estimator family sharing the one moment scan: "sum"
    * (expansion estimator Σx·(N/n), CLT margin scaled by N), "avg" (the
    * plain sample mean, mean CI, no scale factor), "count" (the n-moment
    * alone, scaled by the step = 1/fraction, finite-population Bernoulli
    * margin z·step·√(n·(1−1/step)); COUNT(col) passes the column so the
    * moment stays non-null-aware like SQL, and no sums are computed).
    * Output column names stay `sum_est`/`ci_lower`/`ci_upper` across
    * modes for schema stability — callers alias.
    *
    * NULL group keys form one group like any other and are reported as
    * SQL NULL, sorted first; a literal "__null__" value is a group of its
    * own. NULL VALUES: a group whose value column is entirely NULL
    * answers SQL-faithfully on the exact route (sum_est/CI = NULL for
    * sum/avg, 0 for count); on the ladder route it reports est 0.0 with
    * an unbounded margin and status InsufficientData (sampling cannot
    * distinguish all-NULL from unseen — only the exact scan can assert
    * NULL).
    *
    * The result stays distributed, one row per group, ordered by
    * `group`: (group, n_rows, sum_est, ci_lower, ci_upper, n_used,
    * rounds_used, status). Nothing group-sized reaches the driver. The
    * order is a distributed `orderBy`, right for a library result that
    * may hold 10⁶ groups and be written or counted (Catalyst drops the
    * sort under `.count()`). The CLI, whose answers are collected whole,
    * takes the unordered core [[groupedLadder]] and orders it in one
    * partition ([[graft.QueryOps.orderedSmall]]) instead.
    *
    * Everything is a pure function of the data (decimal-exact moments,
    * one cast to double, fixed IEEE expression order), so a foreign
    * engine replaying the same formula text reproduces every estimate,
    * CI bound, round count and verdict bit-for-bit — q172's DuckDB
    * oracle (`InventoryScale.sumLadderOracle`) has exactly this shape;
    * the expressions below are kept in IEEE-op lockstep with the oracle
    * texts (do not refactor the arithmetic). Non-finite margins use the
    * 1e18 sentinel (not Infinity) so the replay stays hashable. */
  def runGroupedDeterministic(df: DataFrame, value: Column, key: Column,
      group: Column,
      steps: Seq[Long] = Seq(20L, 10L, 5L),
      errorThresholdPct: Double = 2.0,
      confidence: Double = 0.95,
      driftTolerancePct: Double = 5.0,
      exactBelow: Long = -1L,
      agg: String = "sum"): DataFrame =
    groupedLadder(df, value, key, group, steps, errorThresholdPct,
        confidence, driftTolerancePct, exactBelow, agg)
      // nulls first (Spark's default ASC null ordering)
      .orderBy(col("group"))

  /** [[runGroupedDeterministic]] without its final order: the same rows
    * in no particular order, for a caller that orders them itself. */
  private[exec] def groupedLadder(df: DataFrame, value: Column, key: Column,
      group: Column,
      steps: Seq[Long] = Seq(20L, 10L, 5L),
      errorThresholdPct: Double = 2.0,
      confidence: Double = 0.95,
      driftTolerancePct: Double = 5.0,
      exactBelow: Long = -1L,
      agg: String = "sum"): DataFrame = {
    requireNested(steps)
    require(Set("sum", "avg", "count")(agg),
      s"grouped ladder supports sum/avg/count, got $agg")
    val z = Estimators.zScore(confidence)
    val exactCut = if (exactBelow >= 0) exactBelow else 50L * steps.last
    val Big = 1e18 // cross-engine-safe stand-in for an unbounded margin
    val rungs = steps.indices
    def n(r: Int) = col(s"n$r")
    def est(r: Int) = col(s"est$r")
    def mar(r: Int) = col(s"mar$r")
    def rel(r: Int) = col(s"rel$r")

    // IEEE-op lockstep with the q172/q190/q191 oracle texts -- do not
    // refactor the arithmetic. sum: expansion estimator scaled by N/n.
    // avg: the plain sample mean with a mean CI (no N scale). count: the
    // n-moment alone, scaled by the step (1/fraction), with the
    // finite-population Bernoulli margin. Inputs: nAll (long), rung r's
    // n/sc/s2c (double).
    def estOf(r: Int): Column = {
      val (nn, sc) = (col("nAll").cast("double"), col(s"sc$r"))
      agg match {
        case "sum" => when(n(r) > 0.0,
          sc * (nn / n(r)) / lit(100.0)).otherwise(lit(0.0))
        case "avg" => when(n(r) > 0.0,
          (sc / n(r)) / lit(100.0)).otherwise(lit(0.0))
        case _ => n(r) * lit(steps(r).toDouble)
      }
    }
    def marOf(r: Int): Column = {
      val (nn, sc, s2c, step) =
        (col("nAll").cast("double"), col(s"sc$r"), col(s"s2c$r"), steps(r))
      def se = sqrt(((s2c - sc * sc / n(r)) / (n(r) - lit(1.0))) / n(r))
      agg match {
        case "sum" => when(n(r) > 1.0,
          lit(z) * se * nn / lit(100.0)).otherwise(lit(Big))
        case "avg" => when(n(r) > 1.0,
          lit(z) * se / lit(100.0)).otherwise(lit(Big))
        case _ => when(n(r) > 0.0,
          lit(z * step.toDouble) *
            sqrt(n(r) * lit(1.0 - 1.0 / step.toDouble)))
          .otherwise(lit(Big))
      }
    }
    def relOf(r: Int): Column =
      when(est(r) =!= lit(0.0) && mar(r) < lit(Big),
        lit(100.0) * (((est(r) + mar(r)) - (est(r) - mar(r))) / lit(2.0)) /
          abs(est(r)))
        .otherwise(lit(Big))
    def drifted(r: Int): Column =
      if (r == 0) lit(false)
      else ((est(r - 1) + mar(r - 1) < est(r) - mar(r)) ||
          (est(r) + mar(r) < est(r - 1) - mar(r - 1))) &&
        est(r - 1) =!= lit(0.0) &&
        abs(est(r) - est(r - 1)) / abs(est(r - 1)) * lit(100.0) >
          lit(driftTolerancePct)

    val ladder = keyModMoments(df, value, key, steps,
        Some(group.cast("string")), sums = agg != "count")
      .select(col("*") +: rungs.flatMap(r =>
        Seq(estOf(r).as(s"est$r"), marOf(r).as(s"mar$r"))): _*)
      .select(col("*") +: rungs.map(r => relOf(r).as(s"rel$r")): _*)
      // the first converged rung, else the last (0-based)
      .withColumn("__ru", rungs.init.foldRight(lit(rungs.last)) { (r, rest) =>
        when(rel(r) <= lit(errorThresholdPct) && n(r) >= lit(50.0), lit(r))
          .otherwise(rest) })

    // the selected rung's value of `f`
    def picked(f: Int => Column): Column =
      rungs.init.foldRight(f(rungs.last)) { (r, rest) =>
        when(col("__ru") === r, f(r)).otherwise(rest) }
    // SQL-faithful all-NULL handling (round-8 ADVICE): SUM/AVG over a
    // group whose every value is NULL is NULL -- not 0.0, and not the
    // 0.0/0 = NaN a bare division produces; COUNT(col) of the same group
    // is legitimately 0
    val exactV = agg match {
      case "sum" => when(col("nx") === 0L, lit(null).cast("double"))
        .otherwise(col("s"))
      case "avg" => when(col("nx") === 0L, lit(null).cast("double"))
        .otherwise(col("s") / col("nx").cast("double"))
      case _ => col("nx").cast("double")
    }
    val small = col("nAll") < lit(exactCut)
    def route(exact: Column, sampled: Column) =
      when(small, exact).otherwise(sampled)
    // Ladder groups keep their numeric estimate even when every sampled
    // value was NULL (n stays 0 -> est 0.0, margin Big, status
    // InsufficientData) -- the honest "sampling couldn't see the group"
    // answer; only the EXACT route can assert SQL NULL.
    ladder.select(col("group"), col("nAll").as("n_rows"),
        route(exactV, picked(est)).as("sum_est"),
        route(exactV, picked(est) - picked(mar)).as("ci_lower"),
        route(exactV, picked(est) + picked(mar)).as("ci_upper"),
        route(col("nAll"), picked(r =>
          (0 to r).map(i => n(i).cast("long")).reduce(_ + _))).as("n_used"),
        route(lit(0), col("__ru") + 1).as("rounds_used"),
        when(small, lit("Exact"))
          .when(picked(n) < lit(50.0), lit("InsufficientData"))
          .when(picked(drifted), lit("Drifting"))
          .when(picked(rel) <= lit(errorThresholdPct), lit("Stable"))
          .otherwise(lit("Drifting")).as("status"))
  }

  /** Deterministic twin of [[run]] — the oracle-gatable form of the CLT
    * ladder (reference `clt_validated_dual_pointer_sample`,
    * custom_bplus_db.cpp:885-1043). Same one-aggregate ladder, same
    * driver walk and early stop, same CLT margin and drift verdict, with
    * two substitutions that make the estimate, CI, verdict and
    * samples-used pure functions of the data:
    *
    *  - rung r's sample is the NESTED key-mod systematic design
    *    `key % step == 0` with steps like 20 ⊃ 10 ⊃ 5 (each step divides
    *    the previous, so every rung's sample contains the last — the
    *    same refine-don't-restart structure as the reference's dual
    *    pointers, without its rand() coin flips);
    *  - every moment reaches the driver through exact integer arithmetic
    *    (cents fixed-point, scale-0 decimal sums, ONE correctly-rounded
    *    cast to double — the q65/q139 oracle discipline), so a foreign
    *    engine evaluating the same formula text reproduces the doubles
    *    bit-for-bit. q29's DuckDB oracle does exactly that.
    *
    * SUM-only: the ratio estimator Σx·(N/n) (B2-corrected) with CLT margin
    * z·se·N. `value` must fit DECIMAL(18,2) with ≤2 decimal places
    * (monetary/quantity columns); cents must fit a LONG when squared
    * (|x| < ~3e7), which every TPC-H monetary column satisfies.
    *
    * One aggregate computes the row count and every rung's conditional
    * moments in one scan; the driver then walks the rungs and stops at
    * the first converged one. An early stop saves driver work, not scans
    * or jobs: `key % step` runs after decode, so no rung skips I/O. */
  def runDeterministic(df: DataFrame, value: Column, key: Column,
      steps: Seq[Long] = Seq(20L, 10L, 5L),
      errorThresholdPct: Double = 2.0,
      confidence: Double = 0.95,
      driftTolerancePct: Double = 5.0): AdaptiveOutcome = {
    requireNested(steps)
    val t0 = System.nanoTime()
    val z = Estimators.zScore(confidence)
    val row = keyModMoments(df, value, key, steps, None, sums = true).head()
    val moment = momentsOf(row)
    val totalN = row.getAs[Long]("nAll").toDouble

    walkLadder(steps.size, errorThresholdPct, confidence, driftTolerancePct,
        t0) { r =>
      val n = moment(s"n$r")
      val sc = moment(s"sc$r")
      val s2c = moment(s"s2c$r")
      val varc = if (n > 1) (s2c - sc * sc / n) / (n - 1) else 0.0
      val se = if (n > 0) math.sqrt(varc / n) else Double.PositiveInfinity
      val (estimate, margin) =
        if (n > 0) (sc * (totalN / n) / 100.0, z * se * totalN / 100.0)
        else (0.0, Double.PositiveInfinity)
      roundOf(1.0 / steps(r), n, estimate, margin)
    }
  }
}
