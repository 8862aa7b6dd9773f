package graft

import org.apache.spark.sql.functions._

import graft.exec.AdaptiveExecutor
import graft.model.{AggKind, ApproximationStatus, SamplingStrategy}

class AdaptiveSpec extends SparkSpec {

  private def li = Tables.lineitem(spark, sf0001)

  test("adaptive SUM converges within threshold and reports STABLE") {
    val exact = li.agg(sum("l_extendedprice")).head.getDouble(0)
    val out = AdaptiveExecutor.run(li, col("l_extendedprice"), AggKind.Sum,
      SamplingStrategy.Adaptive(errorThresholdPct = 5.0, initialFraction = 0.05))
    assert(out.result.status === ApproximationStatus.Stable)
    assert(out.result.relativeErrorPct <= 5.0 + 1e-9)
    assert(math.abs(out.result.value - exact) / exact < 0.15)
    assert(out.rounds.nonEmpty && out.rounds.size <= 6)
  }

  test("tight threshold grows the fraction across rounds") {
    val out = AdaptiveExecutor.run(li, col("l_extendedprice"), AggKind.Sum,
      SamplingStrategy.Adaptive(errorThresholdPct = 0.5, initialFraction = 0.01,
        maxRounds = 4))
    assert(out.rounds.size > 1, "should need more than one round at 0.5%")
    assert(out.rounds.map(_.fraction).distinct.size === out.rounds.size,
      "fractions should grow")
  }

  test("AVG adaptive is unscaled and near exact") {
    val exact = li.agg(avg("l_quantity")).head.getDouble(0)
    val out = AdaptiveExecutor.run(li, col("l_quantity"), AggKind.Avg,
      SamplingStrategy.Adaptive(errorThresholdPct = 5.0, initialFraction = 0.1))
    assert(math.abs(out.result.value - exact) / exact < 0.10)
  }

  /** The per-round Bernoulli ladder as one scan per round: `df.count()`,
    * then round r filters `rand(seed + r) < f_r` and aggregates its
    * moments, stopping at the first converged round or the cap. The
    * reference semantics [[AdaptiveExecutor.run]]'s one-scan ladder must
    * reproduce round for round. */
  private def perRoundLadder(df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column, agg: AggKind,
      spec: SamplingStrategy.Adaptive): AdaptiveExecutor.AdaptiveOutcome = {
    val z = graft.exec.Estimators.zScore(spec.confidence)
    val totalN = df.count().toDouble
    var fraction = spec.initialFraction
    var rounds = Vector.empty[AdaptiveExecutor.Round]
    var done = false
    while (!done) {
      val m = df.filter(rand(spec.seed + rounds.size) < fraction).agg(
        count(value).cast("double"), sum(value).cast("double"),
        sum(value * value).cast("double")).head()
      val n = m.getDouble(0)
      val s = if (m.isNullAt(1)) 0.0 else m.getDouble(1)
      val s2 = if (m.isNullAt(2)) 0.0 else m.getDouble(2)
      val variance = if (n > 1) (s2 - s * s / n) / (n - 1) else 0.0
      val se = if (n > 0) math.sqrt(variance / n) else Double.PositiveInfinity
      val (est, margin) = agg match {
        case AggKind.Avg => (if (n > 0) s / n else 0.0, z * se)
        case AggKind.Sum =>
          if (n > 0) (s * (totalN / n), z * se * totalN)
          else (0.0, Double.PositiveInfinity)
        case _ => (n * (1.0 / fraction),
          z * (1.0 / fraction) * math.sqrt(n * (1.0 - fraction)))
      }
      val rel = graft.exec.Estimators.relativeMarginPct(est, est - margin,
        est + margin)
      rounds :+= AdaptiveExecutor.Round(fraction, n.toLong, est, est - margin,
        est + margin, rel)
      done = (rel <= spec.errorThresholdPct && n >= 50) ||
        fraction >= spec.maxFraction || rounds.size >= spec.maxRounds
      if (!done) fraction = math.min(fraction * spec.growthFactor, spec.maxFraction)
    }
    val last = rounds.last
    val drifted = rounds.size >= 2 && {
      val prev = rounds(rounds.size - 2)
      (prev.ciUpper < last.ciLower || last.ciUpper < prev.ciLower) &&
        prev.estimate != 0.0 &&
        math.abs(last.estimate - prev.estimate) / math.abs(prev.estimate) * 100.0 > 5.0
    }
    val status =
      if (last.n < 50) ApproximationStatus.InsufficientData
      else if (drifted) ApproximationStatus.Drifting
      else if (last.relMarginPct <= spec.errorThresholdPct) ApproximationStatus.Stable
      else ApproximationStatus.Drifting
    AdaptiveExecutor.AdaptiveOutcome(graft.model.ApproxResult(last.estimate,
      last.ciLower, last.ciUpper, spec.confidence, rounds.map(_.n).sum,
      status, 0L), rounds)
  }

  test("one-scan Bernoulli ladder equals the per-round ladder round for round, in at most 2 jobs") {
    val li01 = Tables.lineitem(spark, sf001)
    val aggs = Seq((AggKind.Sum, col("l_extendedprice")),
      (AggKind.Avg, col("l_quantity")), (AggKind.Count, lit(1L)))
    val wheres = Seq(None, Some("l_quantity BETWEEN 10 AND 30"),
      Some("l_discount BETWEEN 0.02 AND 0.06"))
    val seeds = Seq(42L, 7L, 1234L)
    val thresholds = Seq(0.5, 2.0, 5.0)
    var roundCounts = Set.empty[Int]
    for ((agg, value) <- aggs; (where, w) <- wheres.zipWithIndex;
         (seed, i) <- seeds.zipWithIndex) {
      val df = where.fold(li01)(c => li01.filter(expr(c)))
      val spec = SamplingStrategy.Adaptive(
        errorThresholdPct = thresholds((i + w) % thresholds.size), seed = seed)
      val want = perRoundLadder(df, value, agg, spec)
      val (got, jobs) = jobsDuring(AdaptiveExecutor.run(df, value, agg, spec))
      val label = s"$agg where=$where seed=$seed"
      assert(got.rounds === want.rounds, label)
      assert(got.result.copy(millis = 0L) === want.result, label)
      assert(jobs.jobs <= 2, s"$label ran ${jobs.jobs} jobs")
      roundCounts += got.rounds.size
    }
    // the mix stops early and climbs the ladder
    assert(roundCounts.contains(1) && roundCounts.exists(_ >= 3), roundCounts)
  }

  private def liKey = Tables.lineitemKey.column

  test("deterministic ladder: bit-identical across runs, CI covers exact, early stop") {
    val exact = li.agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
      .cast("double")).head.getDouble(0)
    val a = AdaptiveExecutor.runDeterministic(li, col("l_extendedprice"),
      liKey, steps = Seq(20L, 10L, 5L), errorThresholdPct = 5.0)
    val b = AdaptiveExecutor.runDeterministic(li, col("l_extendedprice"),
      liKey, steps = Seq(20L, 10L, 5L), errorThresholdPct = 5.0)
    // pure function of the data: every field identical, including doubles
    assert(a.result.value == b.result.value &&
      a.result.ciLower == b.result.ciLower &&
      a.result.ciUpper == b.result.ciUpper &&
      a.result.status == b.result.status &&
      a.rounds == b.rounds)
    assert(a.result.ciLower <= exact && exact <= a.result.ciUpper,
      s"CI [${a.result.ciLower}, ${a.result.ciUpper}] misses exact $exact")
    // 5% at sf0.001 (~6k rows): the 5% round (n≈300) shouldn't converge,
    // later rounds refine — rounds are nested so estimates tighten
    assert(a.rounds.size >= 1 && a.rounds.size <= 3)
    assert(a.rounds.map(_.n).zip(a.rounds.tail.map(_.n)).forall {
      case (n1, n2) => n2 > n1 }, "nested rounds must grow")
  }

  test("grouped ladder: exact routing below the floor, replayable, CIs bracket, sampled groups converge per group") {
    import spark.implicits._
    // planted strata: two big groups (ladder) + one tiny group (exact)
    val grp = when(pmod(col("l_orderkey"), lit(997L)) === 0, lit("RARE"))
      .otherwise(col("l_returnflag"))
    def once() = AdaptiveExecutor.runGroupedDeterministic(li,
        col("l_extendedprice"), liKey, grp,
        steps = Seq(20L, 10L, 5L), errorThresholdPct = 5.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getInt(6),
        r.getString(7)))
    val a = once(); val b = once()
    assert(a.toSeq === b.toSeq, "pure function of the data")
    val byGroup = a.map(t => t._1 -> t).toMap
    val exact = li.groupBy(grp.as("g"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    a.foreach { case (g, nRows, est, lo, hi, nUsed, rounds, status) =>
      assert(lo <= est && est <= hi, s"$g CI malformed")
      if (nRows < 250) {
        // sub-floor groups answer EXACTLY with a zero-width CI
        assert(status === "Exact" && rounds === 0 && nUsed === nRows)
        assert(est === exact(g) && lo === est && hi === est)
      } else {
        assert(rounds >= 1 && rounds <= 3 && nUsed < nRows,
          s"$g should have sampled, not scanned")
        assert(math.abs(est - exact(g)) / math.abs(exact(g)) < 0.25,
          s"$g estimate $est far from ${exact(g)}")
      }
    }
    assert(a.exists(_._8 == "Exact") && a.exists(_._8 != "Exact"),
      "fixture must exercise both routes")
  }

  test("grouped ladder reports NULL groups as SQL NULL, coexisting with a literal __null__ group") {
    import spark.implicits._
    // round-6 ADVICE: isin() never matches SQL NULL, so an un-coalesced
    // null group either reported est=0 (ladder) or vanished (exact route).
    // round-7 ADVICE closed the follow-up: the old "__null__" string
    // sentinel collided with a genuine group of that value. Group keys now
    // travel in an injective escaped form, so a NULL group and a literal
    // "__null__" group coexist: 2000 null + 2000 '__null__' + 2000 'g'
    // rows of a constant value all ride the ladder (>= exactCut 250), and
    // a constant has zero variance, so every estimate must be EXACTLY
    // n*10 — a group that lost or absorbed foreign moments cannot fake
    // that.
    val df = spark.range(6000).select(col("id").as("k"), lit(10.0).as("v"),
      when(pmod(col("id"), lit(3)) === 0, lit(null).cast("string"))
        .when(pmod(col("id"), lit(3)) === 1, lit("__null__")).otherwise(lit("g"))
        .as("g"))
    val rows = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
        col("k"), col("g"), steps = Seq(20L, 10L, 5L),
        errorThresholdPct = 5.0)
      .collect()
    val out = rows.map(r => Option(r.getString(0)) ->
      ((r.getLong(1), r.getDouble(2), r.getString(7)))).toMap
    assert(out.keySet === Set(None, Some("__null__"), Some("g")))
    val (nNull, estNull, stNull) = out(None)
    assert(nNull === 2000L && estNull === 20000.0)
    assert(stNull != "InsufficientData")
    assert(out(Some("__null__")) === ((2000L, 20000.0, out(Some("g"))._3)))
    assert(out(Some("g"))._2 === 20000.0)
    // nulls-first ordering, matching Spark's ORDER BY ASC default
    assert(rows.head.isNullAt(0))
  }

  test("grouped ladder AVG and COUNT modes: estimates and exact routes") {
    import spark.implicits._
    // constant value ⇒ zero variance ⇒ avg must be exactly 10 and count
    // exactly right for the big groups; the tiny group routes exact.
    val df = spark.range(4100).select(col("id").as("k"), lit(10.0).as("v"),
      when(col("id") < 100, lit("tiny")).otherwise(lit("big")).as("g"))
    val avgOut = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
        col("k"), col("g"), steps = Seq(20L, 10L, 5L),
        errorThresholdPct = 5.0, agg = "avg")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(7)))).toMap
    assert(avgOut("big") === ((4000L, 10.0, "Stable")))
    assert(avgOut("tiny") === ((100L, 10.0, "Exact")))
    val cntOut = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
        col("k"), col("g"), steps = Seq(20L, 10L, 5L),
        errorThresholdPct = 25.0, agg = "count")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getString(7)))).toMap
    val (nBig, estBig, loBig, hiBig, usedBig, stBig) = cntOut("big")
    assert(nBig === 4000L && usedBig < 4000L)
    // systematic count estimate: n_sample * step, CI must cover truth
    assert(loBig <= 4000.0 && 4000.0 <= hiBig,
      s"count CI [$loBig,$hiBig] must cover 4000")
    assert(math.abs(estBig - 4000.0) / 4000.0 < 0.25, s"est $estBig")
    assert(Set("Stable", "Drifting")(stBig))
    assert(cntOut("tiny") === ((100L, 100.0, 100.0, 100.0, 100L, "Exact")))
    intercept[IllegalArgumentException] {
      AdaptiveExecutor.runGroupedDeterministic(df, col("v"), col("k"),
        col("g"), agg = "median")
    }
  }

  test("grouped ladder refuses group cardinalities above the maxGroups contract") {
    import spark.implicits._
    // round-8 verdict item 4 (bound now guards the broadcast active-set
    // frame — the round-12 rewrite removed the driver sketch maps): a
    // caller beyond the contract must get a loud error up front.
    val df = spark.range(200).select(col("id").as("k"),
      lit(1.0).as("v"), col("id").cast("string").as("g"))
    val e = intercept[IllegalArgumentException] {
      AdaptiveExecutor.runGroupedDeterministic(df, col("v"), col("k"),
        col("g"), maxGroups = 100)
    }
    assert(e.getMessage.contains("maxGroups"))
    // at or below the threshold it runs
    assert(AdaptiveExecutor.runGroupedDeterministic(df, col("v"), col("k"),
      col("g"), maxGroups = 200).count() === 200L)
  }

  test("grouped ladder scales to 10^5 groups through the broadcast active-set join") {
    import spark.implicits._
    // round-9 verdict item 5: the isin() active-set legs became a
    // broadcast semi-join, lifting the ceiling two orders of magnitude.
    // 10^5 groups: one hot group rides the ladder (converges), a mid
    // group rides it to the last round, the other ~10^5 route exact.
    val nGroups = 100000L
    val df = spark.range(400000).select(col("id").as("k"),
      (col("id") % 97 + 1).cast("double").as("v"),
      when(col("id") < 150000, lit("hot"))
        .when(col("id") < 160000, lit("mid"))
        .otherwise(concat(lit("g"), pmod(col("id"), lit(nGroups))))
        .as("g"))
    val out = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
      col("k"), col("g"), steps = Seq(20L, 10L, 5L),
      errorThresholdPct = 5.0).collect()
    assert(out.length.toLong >= nGroups - 2,
      s"expected ~$nGroups groups, got ${out.length}")
    val byG = out.map(r => r.getString(0) -> r).toMap
    assert(byG("hot").getString(7) === "Stable")
    assert(byG("hot").getLong(5) < 150000L, "hot group must have sampled")
    // small groups (2-3 rows each) route exact — spot-check one
    val spot = byG("g70000")
    assert(spot.getString(7) === "Exact")
    // every group accounted for, none dropped by the broadcast legs
    assert(out.map(_.getLong(1)).sum === 400000L)
  }

  test("all-NULL value groups: exact route answers SQL NULL for sum/avg, 0 for count") {
    import spark.implicits._
    // round-8 ADVICE: avg of an all-NULL group was 0.0/0 = NaN; SQL AVG
    // (and SUM) of all NULLs is NULL. The 100-row group routes exact
    // (below the 250 floor); 'big' rides the ladder normally.
    val df = spark.range(4100).select(col("id").as("k"),
      when(col("id") < 100, lit(null).cast("double"))
        .otherwise(lit(10.0)).as("v"),
      when(col("id") < 100, lit("allnull")).otherwise(lit("big")).as("g"))
    Seq("sum", "avg").foreach { m =>
      val rows = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
          col("k"), col("g"), steps = Seq(20L, 10L, 5L),
          errorThresholdPct = 5.0, agg = m)
        .collect().map(r => r.getString(0) ->
          ((r.isNullAt(2), r.isNullAt(3), r.isNullAt(4), r.getString(7))))
        .toMap
      assert(rows("allnull") === ((true, true, true, "Exact")),
        s"$m mode must report NULL est/CI for the all-NULL exact group")
      assert(rows("big")._1 === false && rows("big")._4 != "Exact")
    }
    val cnt = AdaptiveExecutor.runGroupedDeterministic(df, col("v"),
        col("k"), col("g"), steps = Seq(20L, 10L, 5L),
        errorThresholdPct = 25.0, agg = "count")
      .collect().map(r => r.getString(0) ->
        ((r.isNullAt(2), r.getDouble(2)))).toMap
    assert(cnt("allnull") === ((false, 0.0)),
      "COUNT(col) of an all-NULL group is legitimately 0, not NULL")
  }

  test("AqeSession.adaptiveAggBy routes the grouped ladder (API parity with the CLI)") {
    import org.apache.spark.sql.functions._
    val t = graft.api.AqeSession(spark).table(li, Tables.lineitemKey.column)
    val out = t.adaptiveAggBy(graft.model.AggKind.Avg,
        col("l_extendedprice"), col("l_returnflag"), errorThresholdPct = 5.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.keySet === exact.keySet)
    out.foreach { case (g, est) =>
      assert(math.abs(est - exact(g)) / exact(g) < 0.2, s"$g: $est vs ${exact(g)}")
    }
    intercept[IllegalArgumentException] {
      t.adaptiveAggBy(graft.model.AggKind.Max, col("l_extendedprice"),
        col("l_returnflag"), errorThresholdPct = 5.0)
    }
  }

  test("deterministic ladder rejects non-nested steps and flags tiny samples") {
    intercept[IllegalArgumentException] {
      AdaptiveExecutor.runDeterministic(li, col("l_extendedprice"), liKey,
        steps = Seq(20L, 7L))
    }
    // a sample too small for the CLT gate reports InsufficientData
    val tiny = li.limit(40)
    val out = AdaptiveExecutor.runDeterministic(tiny, col("l_extendedprice"),
      liKey, steps = Seq(1L), errorThresholdPct = 50.0)
    assert(out.result.status === ApproximationStatus.InsufficientData)
  }
}
