package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.exec.{AdaptiveExecutor, Estimators, Sampling, SampledFrame}
import graft.model._

/** Programmatic entry point — the Spark-side analogue of reference entry C
  * (README.md:228-235: `CustomBPlusDB` / `CustomApproximateScheduler` used
  * directly from Python). Wraps a SparkSession; all operations stay
  * distributed until a final scalar/result row is requested.
  *
  * {{{
  * val aqe = AqeSession(spark)
  * val t = aqe.table(lineitemDf, samplingKey = graft.Tables.lineitemKey.column)
  * t.approxSum($"l_extendedprice", SamplingStrategy.Systematic(10))      // DataFrame, 1 row
  * t.approxSumCi($"l_extendedprice", SamplingStrategy.Uniform(0.1))      // + CI columns
  * t.adaptiveSum($"l_extendedprice", errorThresholdPct = 2.0)            // ApproxResult
  * t.benchmark(AggKind.Sum, $"l_extendedprice", SamplingStrategy.Uniform(0.1))
  * }}}
  */
final case class BenchmarkRow(agg: String, exact: Double, approx: Double,
    errorPct: Double, exactMillis: Long, approxMillis: Long, speedup: Double)

final case class AqeSession(spark: SparkSession) {
  def table(df: DataFrame, samplingKey: Column): ApproxTable =
    ApproxTable(df, samplingKey)
  /** No-key overload: the sampling key is [[graft.Tables.contentKey]], a
    * content hash of the full row — the fallback for a frame whose table
    * declares no row key. A bare frame carries no table name, so this
    * overload always hashes; it decodes every column of every row a
    * key-mod design reads. For a registered table with a declared key
    * ([[graft.Tables.rowKeys]], lineitem's `l_orderkey`/`l_linenumber`
    * fold), pass `graft.Tables.samplingKey(name, df)` — the key the CLI
    * path (`SpecExecutor`) strides over. */
  def table(df: DataFrame): ApproxTable = ApproxTable(df, graft.Tables.contentKey(df))
}

/** Fluent approximate-query surface over one DataFrame. `samplingKey` is the
  * deterministic integer expression the key-mod designs (systematic/block)
  * stride over; Bernoulli designs ignore it. */
final case class ApproxTable(df: DataFrame, samplingKey: Column) {

  def sampled(strategy: SamplingStrategy): SampledFrame =
    Sampling(df, strategy, samplingKey)

  // -- scaled point estimates (reference A3 contract) ----------------------
  def approxAgg(agg: AggKind, value: Column, strategy: SamplingStrategy,
      alias: String = "value"): DataFrame =
    Estimators.scaledAgg(sampled(strategy), agg, value, alias)

  def approxSum(value: Column, strategy: SamplingStrategy): DataFrame =
    approxAgg(AggKind.Sum, value, strategy, "sum_est")
  def approxCount(value: Column, strategy: SamplingStrategy): DataFrame =
    approxAgg(AggKind.Count, value, strategy, "count_est")
  def approxAvg(value: Column, strategy: SamplingStrategy): DataFrame =
    approxAgg(AggKind.Avg, value, strategy, "avg_est")

  def approxAggBy(agg: AggKind, value: Column, groupCols: Seq[Column],
      strategy: SamplingStrategy, alias: String = "value"): DataFrame =
    Estimators.scaledAggBy(sampled(strategy), agg, value, groupCols, alias)

  // -- with confidence intervals (reference A6/A7) -------------------------
  def approxAggCi(agg: AggKind, value: Column, strategy: SamplingStrategy,
      alias: String = "value", confidence: Double = 0.95): DataFrame =
    Estimators.ciAgg(sampled(strategy), agg, value, alias, confidence)

  def approxSumCi(value: Column, strategy: SamplingStrategy,
      confidence: Double = 0.95): DataFrame =
    approxAggCi(AggKind.Sum, value, strategy, "sum_est", confidence)

  def approxAggCiBy(agg: AggKind, value: Column, groupCols: Seq[Column],
      strategy: SamplingStrategy, alias: String = "value",
      confidence: Double = 0.95): DataFrame =
    Estimators.ciAggBy(sampled(strategy), agg, value, groupCols, alias, confidence)

  // -- adaptive CLT loop (reference R12/R28) -------------------------------
  def adaptiveAgg(agg: AggKind, value: Column, errorThresholdPct: Double,
      confidence: Double = 0.95): ApproxResult =
    AdaptiveExecutor.run(df, value, agg,
      SamplingStrategy.Adaptive(errorThresholdPct, confidence = confidence)).result

  def adaptiveSum(value: Column, errorThresholdPct: Double): ApproxResult =
    adaptiveAgg(AggKind.Sum, value, errorThresholdPct)
  def adaptiveAvg(value: Column, errorThresholdPct: Double): ApproxResult =
    adaptiveAgg(AggKind.Avg, value, errorThresholdPct)

  /** GROUP BY adaptive: the per-group deterministic CLT ladder
    * ([[AdaptiveExecutor.runGroupedDeterministic]]) — each group takes
    * ITS first converged rung over the table's sampling key, sub-floor
    * groups route exact, NULL groups report as SQL NULL. SUM, AVG (mean
    * CI, no scale factor) and COUNT (n-moment alone), the same contract
    * as the CLI's `--error` + GROUP BY. Every rung of every group comes
    * from one aggregate over one scan: an early stop saves driver work,
    * not scans or jobs. One row per group, ordered by group:
    * (group, n_rows, sum_est, ci_lower, ci_upper, n_used, rounds_used,
    * status). */
  def adaptiveAggBy(agg: AggKind, value: Column, group: Column,
      errorThresholdPct: Double, confidence: Double = 0.95): DataFrame = {
    val ladderAgg = agg match {
      case AggKind.Sum => "sum"
      case AggKind.Avg => "avg"
      case AggKind.Count => "count"
      case other => throw new IllegalArgumentException(
        s"grouped adaptive undefined for $other (SUM/AVG/COUNT only)")
    }
    AdaptiveExecutor.runGroupedDeterministic(df, value, samplingKey, group,
      errorThresholdPct = errorThresholdPct, confidence = confidence,
      agg = ladderAgg)
  }

  // -- exact-vs-approx benchmark (reference benchmark_query,
  //    custom_scheduler.cpp:207-245) ---------------------------------------
  def benchmark(agg: AggKind, value: Column, strategy: SamplingStrategy): BenchmarkRow = {
    def time[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1000000L)
    }
    val (exact, tExact) = time {
      df.agg(Estimators.scaledExpr(agg, value, 1.0).as("v")).head().getDouble(0)
    }
    val (approx, tApprox) = time {
      approxAgg(agg, value, strategy).head().getDouble(0)
    }
    val err = if (exact == 0.0) Double.PositiveInfinity
      else 100.0 * math.abs(exact - approx) / math.abs(exact)
    BenchmarkRow(agg.sqlName, exact, approx, err, tExact, tApprox,
      if (tApprox == 0) Double.PositiveInfinity else tExact.toDouble / tApprox)
  }
}
