package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryOps.orderedSmall
import graft.api.AqeSession
import graft.model.{AggKind, ApproxSpec, SamplingStrategy}

/** Executes a parsed [[ApproxSpec]] against registered tables — the planner+
  * runner that replaces the reference's route step (enhanced_aqe_cli.py:483-497)
  * and `execute_query*` family (executor.cpp:28-321).
  *
  * COUNT compat quirk (reference A4, SURVEY §2.3): with
  * `spec.countExactCompat` the stored exact total is returned for COUNT under
  * sampling, as the enhanced CLI does; default is the documented scaling
  * contract.
  *
  * Every key-based design (systematic, block, priority, grouped adaptive)
  * strides over [[graft.Tables.samplingKey]]: the queried table's declared
  * row key when it has one (lineitem's `l_orderkey`/`l_linenumber` fold —
  * two integer columns, so the sample scan keeps Catalyst's column
  * pruning), else the full-row content hash.
  *
  * Every grouped answer comes back ordered by its group column, NULL group
  * first, sorted in ONE partition ([[graft.QueryOps.orderedSmall]]), not by
  * a global `orderBy`, whose range partitioner adds a sampling job and an
  * exchange. So a query runs only the jobs its aggregate needs: under AQE
  * 2 for every form (the partial aggregate's map stage and the final
  * stage) but priority, whose two-phase per-group top-(k+1) shuffles
  * twice (3). The bound: a CLI answer is shown or collected whole, so the
  * one task that merges and sorts the groups holds no more rows than the
  * driver receives anyway. The cost: for a high-cardinality GROUP BY shown
  * with `show(100)`, the final aggregate runs in one task, where the global
  * sort ran a parallel top-k (`TakeOrderedAndProject`). The library
  * surfaces ([[graft.api.AqeSession]],
  * [[AdaptiveExecutor.runGroupedDeterministic]]) keep the distributed
  * orderBy: their results may hold 10⁶ groups and be counted or written.
  *
  * `--method file` reads the picked part-files with the table's own schema
  * ([[graft.sources.FileSampling.fromTable]]), so it runs no footer
  * inference job either.
  */
object SpecExecutor {

  def run(spark: SparkSession, spec: ApproxSpec): DataFrame = {
    val base0 = spark.table(spec.table)
    val base = spec.where.map(w => base0.filter(expr(w))).getOrElse(base0)
    val key = graft.Tables.samplingKey(spec.table, base)
    val t = AqeSession(spark).table(base, key)
    val valueCol = if (spec.column == "*") lit(1L) else col(spec.column)
    val alias = s"${spec.agg.sqlName}_${if (spec.column == "*") "all" else spec.column}"

    if (spec.countExactCompat && spec.agg == AggKind.Count &&
        spec.sampling != SamplingStrategy.Exact) {
      // A4: answer COUNT from the exact stored total even when sampling
      return base.agg(count(lit(1)).cast("double").as(alias))
    }

    (spec.groupBy, spec.sampling) match {
      case (None, fl: SamplingStrategy.FileLevel) =>
        // the only design that skips I/O on columnar storage: re-plan the
        // scan over every step-th part-file of the registered table and
        // never open the rest. Estimation is cluster sampling with files
        // as clusters: scale = totalFiles/picked, CI from between-file
        // variance — the design-honest interval (a row-level SRS formula
        // would under-cover whenever files are internally homogeneous).
        val sf = graft.sources.FileSampling.fromTable(base0, fl.step, fl.offset)
        val sampled = spec.where.map(w => sf.df.filter(expr(w))).getOrElse(sf.df)
        val scale = sf.scaleFactor
        if (spec.withCi) spec.agg match {
          case AggKind.Sum => Estimators.blockCiSum(sampled,
            input_file_name(), valueCol, scale, alias, spec.confidence)
          case AggKind.Count => Estimators.blockCiSum(sampled,
            input_file_name(), lit(1L), scale, alias, spec.confidence)
          case AggKind.Avg => Estimators.blockCiAvg(sampled,
            input_file_name(), valueCol, scale, alias, spec.confidence)
          case other => throw new IllegalArgumentException(
            s"file-level CI undefined for $other (SUM/COUNT/AVG only)")
        } else spec.agg match {
          case AggKind.Sum => sampled.agg(
            (sum(valueCol.cast("decimal(18,2)")).cast("double") * lit(scale)).as(alias))
          case AggKind.Count => sampled.agg(
            (count(lit(1)).cast("double") * lit(scale)).as(alias))
          case AggKind.Avg => sampled.agg(avg(valueCol).as(alias))
          case other => throw new IllegalArgumentException(
            s"file-level sampling undefined for $other (SUM/COUNT/AVG only)")
        }
      case (Some(_), _: SamplingStrategy.FileLevel) =>
        throw new IllegalArgumentException(
          "file-level sampling does not support GROUP BY (group coverage per " +
            "file is not controlled); use a row-level design (--method systematic)")
      case (grp, p: SamplingStrategy.Priority) =>
        // fixed-size weighted design over the sampling key (reproducible
        // on any partitioning), weight = the aggregated value (COUNT
        // weights every row 1, where the design degenerates to
        // uniform-without-replacement — still unbiased via the same
        // threshold estimator)
        val weight = spec.agg match {
          // the design's domain is non-negative weights (a negative weight
          // gets a negative priority, is never sampled, and silently biases
          // the threshold estimator — Sampling.prioritySample scaladoc);
          // arbitrary CLI queries get a loud per-row guard, not silent bias
          case AggKind.Sum => when(valueCol < 0, raise_error(concat(
              lit("priority sampling requires non-negative weights; got "),
              valueCol.cast("string"),
              lit(" — use a row-level design (--method systematic) for " +
                "signed measures")))).otherwise(valueCol)
          case AggKind.Count => lit(1.0)
          case other => throw new IllegalArgumentException(
            s"priority sampling undefined for $other (SUM/COUNT only)")
        }
        grp match {
          case None =>
            val top = Sampling.prioritySample(base, key, weight, p.k)
            Sampling.prioritySumEstimate(top, p.k)
              .select(col("sum_est").as(alias), col("n_used").as(s"${alias}_n"))
          case Some(g) =>
            // GROUP BY: the fixed k becomes a PER-GROUP budget — every
            // group gets its own size-k sample and threshold τ_g
            // (Skew.priorityPerKey, shard-salted two-phase top-(k+1); a
            // hot group never pins one reducer)
            orderedSmall(graft.operators.Skew.priorityPerKey(base, Seq(g),
                key, weight, p.k)
              .select(col(g), col("sum_est").as(alias),
                col("n_used").as(s"${alias}_n")), col(g))
        }
      case (None, a: SamplingStrategy.Adaptive) =>
        val r = AdaptiveExecutor.run(base, valueCol, spec.agg, a)
        import spark.implicits._
        Seq((r.result.value, r.result.ciLower, r.result.ciUpper,
          r.result.samplesUsed, r.result.status.toString))
          .toDF(alias, s"${alias}_ci_lower", s"${alias}_ci_upper",
            s"${alias}_n", "status")
      case (Some(g), a: SamplingStrategy.Adaptive) =>
        // GROUP BY adaptive: the per-group deterministic CLT ladder
        // (AdaptiveExecutor.runGroupedDeterministic) — each group stops at
        // ITS first converged round, sub-floor groups route exact, over
        // the sampling key. SUM is the expansion
        // estimator, AVG the same moment ladder with a mean (ratio) CI and
        // no scale factor, COUNT the n-moment alone with a
        // finite-population Bernoulli margin.
        val ladderAgg = spec.agg match {
          case AggKind.Sum => "sum"
          case AggKind.Avg => "avg"
          case AggKind.Count => "count"
          case other => throw new IllegalArgumentException(
            s"grouped adaptive undefined for $other (SUM/AVG/COUNT only — " +
              "use a row-level design for other aggregates)")
        }
        // valueCol is already lit(1L) for COUNT(*); for COUNT(col) the
        // ladder's count(xc) moment is non-null-aware, matching SQL. The
        // unordered ladder core, ordered here like every grouped answer.
        orderedSmall(AdaptiveExecutor.groupedLadder(base, valueCol, key,
            col(g), errorThresholdPct = a.errorThresholdPct,
            confidence = a.confidence, agg = ladderAgg)
          .select(col("group").as(g), col("sum_est").as(alias),
            col("ci_lower").as(s"${alias}_ci_lower"),
            col("ci_upper").as(s"${alias}_ci_upper"),
            col("n_used").as(s"${alias}_n"), col("status")), col(g))
      case (Some(g), _) if spec.withCi =>
        orderedSmall(t.approxAggCiBy(spec.agg, valueCol, Seq(col(g)),
          spec.sampling, alias, spec.confidence), col(g))
      case (Some(g), _) =>
        orderedSmall(t.approxAggBy(spec.agg, valueCol, Seq(col(g)),
          spec.sampling, alias), col(g))
      case (None, _) if spec.withCi =>
        t.approxAggCi(spec.agg, valueCol, spec.sampling, alias, spec.confidence)
      case (None, _) =>
        t.approxAgg(spec.agg, valueCol, spec.sampling, alias)
    }
  }
}
