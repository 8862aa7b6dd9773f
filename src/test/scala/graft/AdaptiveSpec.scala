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

  /** Cents of `value` as the key-mod ladders read them: exact to the cent
    * through DECIMAL(18,2), then a long. */
  private def cents(value: org.apache.spark.sql.Column) =
    (value.cast("decimal(18,2)") * lit(100)).cast("long")

  /** The key-mod ladder as one scan per round: `df.count()`, then round r
    * filters `key % steps(r) == 0` and aggregates its exact-cents
    * moments, stopping at the first converged round or the last. The
    * reference semantics [[AdaptiveExecutor.runDeterministic]]'s
    * one-aggregate ladder must reproduce round for round. */
  private def perRoundKeyModLadder(df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
      steps: Seq[Long], threshold: Double): AdaptiveExecutor.AdaptiveOutcome = {
    val z = graft.exec.Estimators.zScore(0.95)
    val totalN = df.count().toDouble
    var rounds = Vector.empty[AdaptiveExecutor.Round]
    var done = false
    while (!done) {
      val step = steps(rounds.size)
      val m = df.filter(pmod(key, lit(step)) === 0).select(cents(value).as("xc"))
        .agg(count(col("xc")).cast("double"),
          sum(col("xc").cast("decimal(28,0)")).cast("double"),
          sum((col("xc") * col("xc")).cast("decimal(38,0)")).cast("double"))
        .head()
      val n = m.getDouble(0)
      val sc = if (m.isNullAt(1)) 0.0 else m.getDouble(1)
      val s2c = if (m.isNullAt(2)) 0.0 else m.getDouble(2)
      val varc = if (n > 1) (s2c - sc * sc / n) / (n - 1) else 0.0
      val se = if (n > 0) math.sqrt(varc / n) else Double.PositiveInfinity
      val (est, margin) =
        if (n > 0) (sc * (totalN / n) / 100.0, z * se * totalN / 100.0)
        else (0.0, Double.PositiveInfinity)
      val rel = graft.exec.Estimators.relativeMarginPct(est, est - margin,
        est + margin)
      rounds :+= AdaptiveExecutor.Round(1.0 / step, n.toLong, est,
        est - margin, est + margin, rel)
      done = (rel <= threshold && n >= 50) || rounds.size == steps.size
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
      else if (last.relMarginPct <= threshold) ApproximationStatus.Stable
      else ApproximationStatus.Drifting
    AdaptiveExecutor.AdaptiveOutcome(graft.model.ApproxResult(last.estimate,
      last.ciLower, last.ciUpper, 0.95, rounds.map(_.n).sum, status, 0L),
      rounds)
  }

  test("one-aggregate key-mod ladder equals the per-round ladder round for round, in at most 2 jobs") {
    val li01 = Tables.lineitem(spark, sf001)
    val wheres = Seq(None, Some("l_quantity BETWEEN 10 AND 30"),
      Some("l_discount BETWEEN 0.02 AND 0.06"), Some("l_orderkey % 97 = 0"))
    var roundCounts = Set.empty[Int]
    for (where <- wheres; threshold <- Seq(0.5, 1.5, 2.0, 5.0)) {
      val df = where.fold(li01)(c => li01.filter(expr(c)))
      val want = perRoundKeyModLadder(df, col("l_extendedprice"), liKey,
        Seq(20L, 10L, 5L), threshold)
      val (got, jobs) = jobsDuring(AdaptiveExecutor.runDeterministic(df,
        col("l_extendedprice"), liKey, steps = Seq(20L, 10L, 5L),
        errorThresholdPct = threshold))
      val label = s"where=$where threshold=$threshold"
      assert(got.rounds === want.rounds, label)
      assert(got.result.copy(millis = 0L) === want.result, label)
      assert(jobs.jobs <= 2, s"$label ran ${jobs.jobs} jobs")
      roundCounts += got.rounds.size
    }
    // the mix stops at every rung
    assert(roundCounts === Set(1, 2, 3), roundCounts)
  }

  private type GroupRow = (Option[String], Long, Option[Double],
    Option[Double], Option[Double], Long, Int, String)

  /** The grouped key-mod ladder as one scan per round, walked on the
    * driver: exact totals per group, groups below `50 · steps.last` rows
    * answer exactly, and every other group takes round after round (one
    * `key % step` scan each) until its first converged round or the last.
    * Estimates, margins and verdicts are the same IEEE expressions the
    * oracle texts replay. The reference semantics
    * [[AdaptiveExecutor.runGroupedDeterministic]] must reproduce row for
    * row, bit for bit. */
  private def perRoundGroupedLadder(df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
      group: org.apache.spark.sql.Column, steps: Seq[Long], threshold: Double,
      agg: String): Seq[GroupRow] = {
    val z = graft.exec.Estimators.zScore(0.95)
    val Big = 1e18
    val base = df.select(group.cast("string").as("g"), key.as("k"),
      cents(value).as("xc"))
    def dbl(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val totals = base.groupBy(col("g"))
      .agg(count(lit(1)), count(col("xc")),
        sum(col("xc").cast("decimal(28,0)")).cast("double"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3)))))
      .toMap
    val (small, ladder) = totals.partition(_._2._1 < 50L * steps.last)
    val exact: Seq[GroupRow] = small.toSeq.map { case (g, (nAll, nx, s)) =>
      val v = agg match {
        case "sum" => if (nx == 0) None else s.map(_ / 100.0)
        case "avg" => if (nx == 0) None else s.map(_ / 100.0 / nx.toDouble)
        case _ => Some(nx.toDouble)
      }
      (g, nAll, v, v, v, nAll, 0, "Exact")
    }
    var active = ladder.keySet
    var cumN = Map.empty[Option[String], Long].withDefaultValue(0L)
    var prev = Map.empty[Option[String], (Double, Double)]
    val sampled = Seq.newBuilder[GroupRow]
    steps.zipWithIndex.foreach { case (step, i) =>
      if (active.nonEmpty) {
        val m = base.filter(pmod(col("k"), lit(step)) === 0).groupBy(col("g"))
          .agg(count(col("xc")).cast("double"),
            sum(col("xc").cast("decimal(28,0)")).cast("double"),
            sum((col("xc") * col("xc")).cast("decimal(38,0)")).cast("double"))
          .collect().map(r => Option(r.getString(0)) ->
            ((r.getDouble(1), dbl(r, 2), dbl(r, 3)))).toMap
        active.foreach { g =>
          val (n, sc, s2c) = m.getOrElse(g, (0.0, 0.0, 0.0))
          val nn = ladder(g)._1.toDouble
          def se = math.sqrt(((s2c - sc * sc / n) / (n - 1.0)) / n)
          val (est, mar) = agg match {
            case "sum" => (if (n > 0.0) sc * (nn / n) / 100.0 else 0.0,
              if (n > 1.0) z * se * nn / 100.0 else Big)
            case "avg" => (if (n > 0.0) (sc / n) / 100.0 else 0.0,
              if (n > 1.0) z * se / 100.0 else Big)
            case _ => (n * step.toDouble,
              if (n > 0.0) (z * step.toDouble) * math.sqrt(n * (1.0 - 1.0 / step.toDouble))
              else Big)
          }
          val rel = if (est != 0.0 && mar < Big)
              100.0 * (((est + mar) - (est - mar)) / 2.0) / math.abs(est)
            else Big
          if ((rel <= threshold && n >= 50.0) || i == steps.size - 1) {
            val drifted = prev.get(g).exists { case (pe, pm) =>
              ((pe + pm < est - mar) || (est + mar < pe - pm)) && pe != 0.0 &&
                math.abs(est - pe) / math.abs(pe) * 100.0 > 5.0
            }
            val status =
              if (n < 50.0) "InsufficientData"
              else if (drifted) "Drifting"
              else if (rel <= threshold) "Stable"
              else "Drifting"
            sampled += ((g, ladder(g)._1, Some(est), Some(est - mar),
              Some(est + mar), cumN(g) + n.toLong, i + 1, status))
            active -= g
          } else {
            cumN += g -> (cumN(g) + n.toLong)
            prev += g -> ((est, mar))
          }
        }
      }
    }
    (exact ++ sampled.result()).sortBy(_._1)
  }

  test("one-aggregate grouped ladder equals the per-round grouped ladder row for row, in at most 4 jobs") {
    // groups of 80k, 40k and 20k rows stop at rungs 1, 2 and 3 of the
    // 20 ⊃ 10 ⊃ 5 ladder at a 2% threshold (and elsewhere at others);
    // beside them a NULL group, a 150-row exact-route group, an all-NULL
    // group on each route (120 and 600 rows), all keyed by id
    val df = spark.range(146870).select(col("id").as("k"),
      when(col("id") >= 146000 && col("id") < 146720, lit(null).cast("double"))
        .otherwise(pmod(xxhash64(col("id")), lit(100000L)) / 100.0).as("v"),
      when(col("id") < 80000, lit("a"))
        .when(col("id") < 120000, lit("b"))
        .when(col("id") < 140000, lit("c"))
        .when(col("id") < 146000, lit(null).cast("string"))
        .when(col("id") < 146120, lit("nullv_small"))
        .when(col("id") < 146720, lit("nullv_big"))
        .otherwise(lit("tiny")).as("g"))
    for (agg <- Seq("sum", "avg", "count")) {
      var roundsSeen = Set.empty[Int]
      for (threshold <- Seq(2.0, 3.0, 5.0)) {
        val want = perRoundGroupedLadder(df, col("v"), col("k"), col("g"),
          Seq(20L, 10L, 5L), threshold, agg)
        val (rows, jobs) = jobsDuring(AdaptiveExecutor.runGroupedDeterministic(
          df, col("v"), col("k"), col("g"), steps = Seq(20L, 10L, 5L),
          errorThresholdPct = threshold, agg = agg).collect())
        def opt(r: org.apache.spark.sql.Row, i: Int) =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        val got: Seq[GroupRow] = rows.toSeq.map(r => (Option(r.getString(0)),
          r.getLong(1), opt(r, 2), opt(r, 3), opt(r, 4), r.getLong(5),
          r.getInt(6), r.getString(7)))
        val label = s"agg=$agg threshold=$threshold"
        assert(got === want, label)
        assert(jobs.jobs <= 4, s"$label ran ${jobs.jobs} jobs")
        roundsSeen ++= got.map(_._7)
      }
      assert(roundsSeen === Set(0, 1, 2, 3), s"$agg: $roundsSeen")
    }
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
    // sentinel collided with a genuine group of that value. A plain GROUP
    // BY keeps them apart, so a NULL group and a literal "__null__" group
    // coexist: 2000 null + 2000 '__null__' + 2000 'g'
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
