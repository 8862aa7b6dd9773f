package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps
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
    val m = flagged.agg(count(lit(1)).cast("double").as("total"), moments: _*)
      .head()
    // a missing (COUNT) or NULL (empty rung) sum reads as 0
    def moment(name: String): Double =
      Some(m.schema.fieldNames.indexOf(name)).filter(i => i >= 0 && !m.isNullAt(i))
        .fold(0.0)(m.getDouble(_))
    val totalN = moment("total")

    var rounds = Vector.empty[Round]
    var done = false
    while (!done) {
      val r = rounds.size
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
      val relPct = Estimators.relativeMarginPct(estimate, estimate - margin, estimate + margin)
      rounds :+= Round(fraction, n.toLong, estimate, estimate - margin, estimate + margin, relPct)
      val converged = relPct <= spec.errorThresholdPct && n >= 50
      done = converged || rounds.size == fractions.size
    }

    // Drift = the rounds statistically disagree: the previous round's CI and
    // the final round's CI don't overlap AND the estimates moved more than
    // the tolerance. (Raw relative-delta alone flags ordinary sampling noise
    // as drift at small n — the CIs quantify expected noise.)
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
      else if (last.relMarginPct <= spec.errorThresholdPct) ApproximationStatus.Stable
      else ApproximationStatus.Drifting

    val millis = (System.nanoTime() - t0) / 1000000L
    AdaptiveOutcome(
      ApproxResult(last.estimate, last.ciLower, last.ciUpper, spec.confidence,
        rounds.map(_.n).sum, status, millis),
      rounds)
  }

  /** Typed row shape of [[runGroupedDeterministic]]'s output, one per
    * group (the operator itself returns a distributed DataFrame; decode
    * with `.as[GroupOutcome]` after renaming the snake_case columns, or
    * read fields positionally). Estimate and CI bounds are Options so a
    * group whose value column is entirely NULL answers SQL-faithfully
    * (SUM/AVG of all-NULLs is NULL, not 0 or 0/0 = NaN) on the exact
    * route. */
  final case class GroupOutcome(group: String, nRows: Long,
      sumEst: Option[Double], ciLower: Option[Double],
      ciUpper: Option[Double], nUsed: Long, roundsUsed: Int,
      status: String)

  /** PER-GROUP deterministic CLT ladder — [[runDeterministic]] extended to
    * GROUP BY: every group climbs the same nested key-mod ladder
    * independently, stops at ITS first converged round, and small groups
    * skip the ladder entirely and go EXACT (q138's route-by-size idea,
    * here with per-group iteration instead of one static fraction).
    *
    * Mechanics per round: ONE distributed job computes the cents moment
    * sketch (n, Σxc, Σxc²) for every still-active group over the round's
    * systematic sample (`key % step == 0`); converged groups leave the
    * active set, so later (denser) rounds aggregate only the groups that
    * still need them. The `key % step` filter runs after decode, so every
    * round still reads the whole table: a round-k stop saves the later
    * rounds' compute and jobs, not their I/O.
    *
    * Small groups (fewer than `exactBelow` rows, default 50·min(steps) —
    * below which even the densest round cannot reach the n ≥ 50 CLT
    * floor) are aggregated EXACTLY in one job filtered to just those
    * groups: status "Exact", zero-width CI. This is the honest answer a
    * sampling ladder cannot give.
    *
    * `agg` picks the estimator family sharing the one moment scan: "sum"
    * (expansion estimator Σx·(N/n), CLT margin scaled by N), "avg" (the
    * plain sample mean, mean CI, no scale factor), "count" (the n-moment
    * alone, scaled by the step = 1/fraction, finite-population Bernoulli
    * margin z·step·√(n·(1−1/step)); COUNT(col) passes the column so the
    * moment stays non-null-aware like SQL). Output column names stay
    * `sum_est`/`ci_lower`/`ci_upper` across modes for schema stability —
    * callers alias.
    *
    * NULL group keys ride the ladder like any other group and are
    * reported as SQL NULL (sorted first). Internally keys travel in an
    * injective escaped form, so no real string value — including the
    * literal "__null__" — can collide with the null group. NULL VALUES:
    * a group whose value column is entirely NULL answers SQL-faithfully
    * on the exact route (sum_est/CI = NULL for sum/avg, 0 for count); on
    * the ladder route it reports est 0.0 with an unbounded margin and
    * status InsufficientData (sampling cannot distinguish all-NULL from
    * unseen — only the exact scan can assert NULL).
    *
    * DRIVER TRAFFIC IS OUTPUT-SIZED, NOT GROUP×ROUNDS-SIZED (round-11
    * verdict item 6): estimate, margin, relative width, convergence,
    * drift and verdict are all computed IN-PLAN — each round's
    * aggregation ends in the same decimal→double casts and IEEE
    * expression order the driver loop used — and the per-group running
    * state (total rows, cumulative sample size, previous round's
    * est/margin for the drift check) rides a checkpointed
    * group-cardinality frame between rounds instead of driver maps. The
    * driver collects ONLY scalar counts (group total, small-group
    * count, per-round surviving-active count for loop control); the
    * result frame itself stays distributed end-to-end. At the 10⁶-group
    * ceiling the old design collected (group, n, Σxc, Σxc²) for the
    * whole active set EVERY round — several 10⁶-row collects per query
    * (tools/LadderProbe stamps the before/after task-result bytes).
    *
    * GROUP CARDINALITY IS BOUNDED BY CONTRACT (`maxGroups`, default
    * 10⁶): the active set travels as a BROADCAST semi-join frame (a
    * 10⁶-group frame is a few-tens-of-MB hash build, where the old
    * isin() literal was a pathological giant-In expression — round-9
    * verdict item 5), and that broadcast build is what the contract now
    * bounds (the driver sketch maps are gone); a caller beyond it gets
    * a loud IllegalArgumentException up front.
    *
    * Everything is a pure function of the data (decimal-exact moments,
    * one cast to double, fixed IEEE expression order), so a foreign
    * engine replaying the same formula text reproduces every estimate,
    * CI bound, round count and verdict bit-for-bit — q172's DuckDB
    * oracle does exactly that, including the per-group first-converged-
    * round selection and the drift verdict; the in-plan expressions
    * below are kept in IEEE-op lockstep with those oracle texts (do not
    * refactor the arithmetic). Non-finite margins use the 1e18 sentinel
    * (not Infinity) so the replay stays hashable. */
  def runGroupedDeterministic(df: DataFrame, value: Column, key: Column,
      group: Column,
      steps: Seq[Long] = Seq(20L, 10L, 5L),
      errorThresholdPct: Double = 2.0,
      confidence: Double = 0.95,
      driftTolerancePct: Double = 5.0,
      exactBelow: Long = -1L,
      agg: String = "sum",
      maxGroups: Int = 1000000): DataFrame = {
    require(steps.nonEmpty && steps.zip(steps.tail).forall {
      case (a, b) => a > b && a % b == 0 },
      s"steps must shrink and nest (each divisible by the next): $steps")
    require(Set("sum", "avg", "count")(agg),
      s"grouped ladder supports sum/avg/count, got $agg")
    val spark = df.sparkSession
    val z = Estimators.zScore(confidence)
    val exactCut = if (exactBelow >= 0) exactBelow else 50L * steps.last
    val Big = 1e18 // cross-engine-safe stand-in for an unbounded margin
    val xc = (AdaptiveExecutor.moneyDec2(df, value) * lit(100)).cast("long")
    // Group keys travel internally in an INJECTIVE escaped form (the
    // active-set semi-join key must survive SQL NULL, which join keys
    // drop): NULL -> the one-char NUL string, anything else ->
    // "s" + value. No real string can collide with the null token (it
    // would escape to "s"+NUL+"..."), and the output reports the null
    // group as SQL NULL -- the honest key callers join back on.
    val g = when(group.isNull, lit("\u0000"))
      .otherwise(concat(lit("s"), group.cast("string"))).as("__g")
    val unesc = when(col("__g") === lit("\u0000"),
      lit(null).cast("string")).otherwise(expr("substring(__g, 2)"))

    // IEEE-op lockstep with the q172/q190/q191 oracle texts (and with
    // the retired driver-side loop) -- do not refactor the arithmetic.
    // sum: expansion estimator scaled by N/n. avg: the plain sample
    // mean with a mean CI (no N scale). count: the n-moment alone,
    // scaled by the step (1/fraction), with the finite-population
    // Bernoulli margin. Inputs: nAll (long), n/sc/s2c (double).
    def estOf(step: Long): Column = {
      val nn = col("nAll").cast("double")
      agg match {
        case "sum" => when(col("n") > 0.0,
          col("sc") * (nn / col("n")) / lit(100.0)).otherwise(lit(0.0))
        case "avg" => when(col("n") > 0.0,
          (col("sc") / col("n")) / lit(100.0)).otherwise(lit(0.0))
        case _ => col("n") * lit(step.toDouble)
      }
    }
    def marOf(step: Long): Column = {
      val nn = col("nAll").cast("double")
      val se = sqrt(((col("s2c") - col("sc") * col("sc") / col("n")) /
        (col("n") - lit(1.0))) / col("n"))
      agg match {
        case "sum" => when(col("n") > 1.0,
          lit(z) * se * nn / lit(100.0)).otherwise(lit(Big))
        case "avg" => when(col("n") > 1.0,
          lit(z) * se / lit(100.0)).otherwise(lit(Big))
        case _ => when(col("n") > 0.0,
          lit(z * step.toDouble) *
            sqrt(col("n") * lit(1.0 - 1.0 / step.toDouble)))
          .otherwise(lit(Big))
      }
    }
    def relOf(est: Column, mar: Column): Column =
      when(est =!= lit(0.0) && mar < lit(Big),
        lit(100.0) * (((est + mar) - (est - mar)) / lit(2.0)) / abs(est))
        .otherwise(lit(Big))

    // FUSED first pass (counts + round 1 in ONE scan): the first
    // sampling round's active set is every ladder group BY DEFINITION --
    // nothing has converged yet -- so its per-group moments need no
    // active-set semi-join, and they ride the same aggregation that
    // produces the per-group row counts. One full scan instead of two;
    // moments computed for groups that then route EXACT are simply
    // discarded (per-group formulas are independent, so ladder values
    // are bit-identical -- the q172/q190/q191 oracles replay unchanged).
    // The conditional moment columns sum the `key % step == 0` subset --
    // SUM skips the NULL non-sampled rows, the same subset a filter
    // would select; coalesce maps a no-sampled-rows group's NULL sum to
    // the 0.0 the formulas expect. Checkpointed EAGERLY: the group
    // count, the small count, the ladder rounds and the output all read
    // these blocks (group-cardinality-sized; blocks are freed by the
    // ContextCleaner once the result frame becomes unreachable).
    val step1 = steps.head
    val sampled1 = pmod(col("__k"), lit(step1)) === 0
    val round1 = df
      .select(g, key.as("__k"), xc.as("__xc"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("nAll"),
        count(when(sampled1, col("__xc"))).cast("double").as("n"),
        (if (agg == "count") lit(0.0)
         else coalesce(sum(when(sampled1, col("__xc").cast("decimal(28,0)")))
           .cast("double"), lit(0.0))).as("sc"),
        (if (agg == "count") lit(0.0)
         else coalesce(sum(when(sampled1,
             (col("__xc") * col("__xc")).cast("decimal(38,0)")))
           .cast("double"), lit(0.0))).as("s2c"))
      .withColumn("cum_n", lit(0L))
      .withColumn("prev_est", lit(null).cast("double"))
      .withColumn("prev_mar", lit(null).cast("double"))
      .staged
    val nGroups = round1.count()
    require(nGroups <= maxGroups,
      s"grouped adaptive ladder saw $nGroups groups, above the " +
        s"maxGroups=$maxGroups contract: the broadcast active-set frame " +
        "is bounded by group cardinality. Aggregate exactly (groupBy.agg) " +
        "or coarsen the group key instead.")
    val nSmall = round1.filter(col("nAll") < lit(exactCut)).count()

    import spark.implicits._
    // canonical empty frame fixes the output schema for the union
    val outFrames = scala.collection.mutable.ArrayBuffer[DataFrame](
      Seq.empty[(String, Long, Option[Double], Option[Double],
          Option[Double], Long, Int, String)]
        .toDF("group", "n_rows", "sum_est", "ci_lower", "ci_upper",
          "n_used", "rounds_used", "status"))

    // exact top-up for the small groups: one job scoped to just them,
    // its output rows built IN-PLAN (nothing collected). SQL-faithful
    // all-NULL handling (round-8 ADVICE): SUM/AVG over a group whose
    // every value is NULL is NULL -- not 0.0, and not the 0.0/0 = NaN a
    // bare division produces; COUNT(col) of the same group is
    // legitimately 0. Empty small groups cannot occur (a group exists
    // because rows do).
    if (nSmall > 0) {
      val keyFrame =
        broadcast(round1.filter(col("nAll") < lit(exactCut)).select("__g"))
      val v = agg match {
        case "sum" => when(col("nx") === 0L, lit(null).cast("double"))
          .otherwise(col("s"))
        case "avg" => when(col("nx") === 0L, lit(null).cast("double"))
          .otherwise(col("s") / col("nx").cast("double"))
        case _ => col("nx").cast("double") // non-null, like SQL COUNT(col)
      }
      outFrames += df.select(g, xc.as("__xc"))
        .join(keyFrame, Seq("__g"), "left_semi")
        .groupBy(col("__g"))
        .agg(count(lit(1)).as("n"),
          (if (agg == "count") lit(0.0)
           else sum(col("__xc").cast("decimal(28,0)")).cast("double") / 100.0)
            .as("s"),
          count(col("__xc")).as("nx"))
        .select(unesc.as("group"), col("n").as("n_rows"), v.as("sum_est"),
          v.as("ci_lower"), v.as("ci_upper"), col("n").as("n_used"),
          lit(0).as("rounds_used"), lit("Exact").as("status"))
    }

    // the ladder: per round, moments for the still-active groups ->
    // est/mar/rel in-plan -> converged (or final-round-forced) groups
    // become output rows, survivors carry (nAll, cumulative n, this
    // round's est/mar as the next drift baseline) into the next round.
    // Only the survivor COUNT reaches the driver (round-11 item 6).
    var state = round1.filter(col("nAll") >= lit(exactCut))
    var activeCount = nGroups - nSmall
    steps.zipWithIndex.foreach { case (step, i) =>
      if (activeCount > 0) {
        val ru = i + 1
        val withMoments =
          if (i == 0) state // fused: round-1 moments already on the frame
          else {
            // The broadcast active-set semi-join prunes rows BEFORE the
            // aggregation — worth its driver round-trip (a broadcast
            // build collects the frame) only when some groups actually
            // left the active set. When nothing has converged or routed
            // exact yet, it prunes ZERO rows while shipping every group
            // key through the driver, so the scan skips it: the state
            // left-join below already scopes the moments to active
            // groups (identical values either way — the semi-join is
            // purely a row-pruning optimization).
            val sampledScan = df
              .select(g, key.as("__k"), xc.as("__xc"))
              .filter(pmod(col("__k"), lit(step)) === 0)
            val scoped =
              if (activeCount < nGroups)
                sampledScan.join(broadcast(state.select("__g")),
                  Seq("__g"), "left_semi")
              else sampledScan
            val roundAgg = scoped
              .groupBy(col("__g"))
              // count mode needs only the n-moment -- skip the two
              // decimal sums entirely (at 100 TB they are the round's
              // decode cost)
              .agg(count(col("__xc")).cast("double").as("n"),
                (if (agg == "count") lit(0.0)
                 else sum(col("__xc").cast("decimal(28,0)")).cast("double"))
                  .as("sc"),
                (if (agg == "count") lit(0.0)
                 else sum((col("__xc") * col("__xc")).cast("decimal(38,0)"))
                   .cast("double")).as("s2c"))
            // left join + coalesce: an active group with no sampled rows
            // this round keeps (0, 0, 0) moments -- est 0, margin Big
            state.select(col("__g"), col("nAll"), col("cum_n"),
                col("prev_est"), col("prev_mar"))
              .join(roundAgg, Seq("__g"), "left")
              .select(col("__g"), col("nAll"), col("cum_n"),
                col("prev_est"), col("prev_mar"),
                coalesce(col("n"), lit(0.0)).as("n"),
                coalesce(col("sc"), lit(0.0)).as("sc"),
                coalesce(col("s2c"), lit(0.0)).as("s2c"))
          }
        val est = estOf(step)
        val mar = marOf(step)
        val rel = relOf(est, mar)
        val converged = rel <= lit(errorThresholdPct) && col("n") >= lit(50.0)
        val selectedCol =
          if (i == steps.size - 1) lit(true) else converged
        // rounds >= 2 derive from a fresh scan job consumed by three
        // branches (output, survivors, survivor count) -- checkpoint so
        // the scan runs once; round 1 reads the already-checkpointed
        // fused frame through narrow ops, no extra copy needed
        val enriched0 = withMoments.select(col("__g"), col("nAll"),
          col("cum_n"), col("prev_est"), col("prev_mar"), col("n"),
          est.as("__est"), mar.as("__mar"), rel.as("__rel"),
          selectedCol.as("__sel"))
        val enriched =
          if (i == 0) enriched0 else enriched0.staged
        val drifted =
          if (ru < 2) lit(false)
          else ((col("prev_est") + col("prev_mar") <
              col("__est") - col("__mar")) ||
            (col("__est") + col("__mar") <
              col("prev_est") - col("prev_mar"))) &&
            col("prev_est") =!= lit(0.0) &&
            abs(col("__est") - col("prev_est")) / abs(col("prev_est")) *
              lit(100.0) > lit(driftTolerancePct)
        // Ladder groups keep their numeric estimate even when every
        // sampled value was NULL (n stays 0 -> est 0.0, margin Big,
        // status InsufficientData) -- the honest "sampling couldn't see
        // the group" answer; only the EXACT route can assert SQL NULL.
        outFrames += enriched.filter(col("__sel"))
          .select(unesc.as("group"), col("nAll").as("n_rows"),
            col("__est").as("sum_est"),
            (col("__est") - col("__mar")).as("ci_lower"),
            (col("__est") + col("__mar")).as("ci_upper"),
            (col("cum_n") + col("n").cast("long")).as("n_used"),
            lit(ru).as("rounds_used"),
            when(col("n") < lit(50.0), lit("InsufficientData"))
              .when(drifted, lit("Drifting"))
              .when(col("__rel") <= lit(errorThresholdPct), lit("Stable"))
              .otherwise(lit("Drifting")).as("status"))
        state = enriched.filter(!col("__sel"))
          .select(col("__g"), col("nAll"),
            (col("cum_n") + col("n").cast("long")).as("cum_n"),
            col("__est").as("prev_est"), col("__mar").as("prev_mar"))
        activeCount = if (i == steps.size - 1) 0L else state.count()
      }
    }

    // distributed output end-to-end; nulls-first ordering (Spark's
    // default ASC null ordering -- the NULL group sorts first, exactly
    // as the old driver-side Option sort did)
    outFrames.reduce(_ union _).orderBy(col("group"))
  }

  /** Deterministic twin of [[run]] — the oracle-gatable form of the CLT
    * ladder (reference `clt_validated_dual_pointer_sample`,
    * custom_bplus_db.cpp:885-1043). Same staged driver loop, same early
    * stop, same CLT margin and drift verdict, with two substitutions that
    * make the estimate, CI, verdict and samples-used pure functions of the
    * data:
    *
    *  - each round's sample is the NESTED key-mod systematic design
    *    `key % step == 0` with steps like 20 ⊃ 10 ⊃ 5 (each step divides
    *    the previous, so every round's sample contains the last — the
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
    * Early termination is preserved: convergence at round k means rounds
    * k+1… are never launched. Each round's `key % step` filter runs after
    * decode, so a launched round reads the whole table; a stop saves the
    * later rounds' compute, not I/O. */
  def runDeterministic(df: DataFrame, value: Column, key: Column,
      steps: Seq[Long] = Seq(20L, 10L, 5L),
      errorThresholdPct: Double = 2.0,
      confidence: Double = 0.95,
      driftTolerancePct: Double = 5.0): AdaptiveOutcome = {
    require(steps.nonEmpty && steps.zip(steps.tail).forall {
      case (a, b) => a > b && a % b == 0 },
      s"steps must shrink and nest (each divisible by the next): $steps")
    val t0 = System.nanoTime()
    val z = Estimators.zScore(confidence)
    val totalN = df.count().toDouble
    val xc = (AdaptiveExecutor.moneyDec2(df, value) * lit(100)).cast("long")
    var rounds = Vector.empty[Round]
    var done = false
    var i = 0
    while (!done) {
      val step = steps(i)
      val m = df.filter(pmod(key, lit(step)) === 0)
        .select(xc.as("xc"))
        .agg(count(col("xc")).cast("double").as("n"),
          sum(col("xc").cast("decimal(28,0)")).cast("double").as("sc"),
          sum((col("xc") * col("xc")).cast("decimal(38,0)")).cast("double")
            .as("s2c")).head()
      val n = m.getDouble(0)
      val sc = if (m.isNullAt(1)) 0.0 else m.getDouble(1)
      val s2c = if (m.isNullAt(2)) 0.0 else m.getDouble(2)
      val varc = if (n > 1) (s2c - sc * sc / n) / (n - 1) else 0.0
      val se = if (n > 0) math.sqrt(varc / n) else Double.PositiveInfinity
      val (estimate, margin) =
        if (n > 0) (sc * (totalN / n) / 100.0, z * se * totalN / 100.0)
        else (0.0, Double.PositiveInfinity)
      val relPct = Estimators.relativeMarginPct(
        estimate, estimate - margin, estimate + margin)
      rounds :+= Round(1.0 / step, n.toLong, estimate,
        estimate - margin, estimate + margin, relPct)
      val converged = relPct <= errorThresholdPct && n >= 50
      done = converged || i == steps.size - 1
      i += 1
    }

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
}
