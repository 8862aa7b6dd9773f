package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys (north-star scale concern; the
  * reference is single-node and has no notion of partition skew).
  *
  * Spark's partial aggregation already absorbs skew for algebraic
  * aggregates (SUM/COUNT partials combine map-side), and AQE rebalances
  * skewed shuffle joins at runtime. The two cases those do NOT cover:
  *
  *  1. COUNT(DISTINCT x) per hot group — partial aggregation cannot
  *     compress distinct sets, so one reducer receives a hot group's whole
  *     value set. [[saltedCountDistinct]] splits each group's values into
  *     `salts` DISJOINT value-hash shards (x lands in exactly one shard ⇒
  *     shard distinct-counts add up exactly), counts per (group, shard),
  *     then sums — the hot group's work spreads over `salts` reducers and
  *     the result is EXACT, not a sketch.
  *  2. Broadcast-ineligible joins with a few hot keys when AQE is off (or
  *     for deterministic plan shape): [[saltedJoin]] fans each fact row to
  *     one of `salts` sub-keys and replicates the (small) build side per
  *     sub-key — same rows out as the plain join, hot key's stream spread
  *     over `salts` tasks.
  */
object Skew {

  /** Exact two-stage distinct count per group, shuffle-balanced for hot
    * groups. Stage 1 counts distincts per (group, value-hash shard) — every
    * downstream exchange is keyed on at least (group, shard), so a hot
    * group's value set spreads over `salts` tasks end to end (plain
    * `countDistinct` funnels the hot group's whole distinct set through one
    * task in its final phase). Stage 2 sums the disjoint shard counts.
    * Output: groupCols ++ (alias). */
  def saltedCountDistinct(df: DataFrame, groupCols: Seq[String],
      distinctCol: String, salts: Int, alias: String = "n_distinct"): DataFrame = {
    require(salts >= 1)
    val g = groupCols.map(col)
    df.select(g :+ col(distinctCol): _*)
      .withColumn("__shard", pmod(xxhash64(col(distinctCol)), lit(salts.toLong)))
      .groupBy((g :+ col("__shard")): _*)
      .agg(countDistinct(col(distinctCol)).as("__partial"))
      .groupBy(g: _*)
      .agg(sum(col("__partial")).as(alias))
  }

  /** Exact top-`n` rows per key, shuffle-balanced for hot keys. Spark's
    * own rank-limit pushdown (`WindowGroupLimit`, since 3.5) already
    * prunes each MAP partition to its local top-n before the exchange, so
    * a plain window ships ≤ n·M rows for a hot key (M = input
    * partitions) — but still merges all of them in ONE reducer task,
    * and at 100 TB a hot domain spans 10⁴–10⁵ input partitions. Phase 1
    * here windows over (key, content-hash shard) — the hot key's merge
    * spreads over `shards` tasks — and phase 2 ranks the ≤ `shards`·n
    * survivors, so no task ever sees more than max(shards·n, n·M/shards)
    * rows of one key. Row-for-row identical to the single-window form
    * PROVIDED `orderCols` is a deterministic total order (e.g. ends in a
    * unique id): any global top-n row is top-n within its shard, so
    * phase 1 can never evict it.
    *
    * Output: input columns plus `rankCol` (1-based, BIGINT). */
  def topNPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
      n: Int, shards: Int = 16, rankCol: String = "rank"): DataFrame = {
    require(n >= 1 && shards >= 1)
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val shard = pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)),
      lit(shards.toLong))
    val w1 = Window.partitionBy((keys :+ col("__shard")): _*)
      .orderBy(orderCols: _*)
    val survivors = df.withColumn("__shard", shard)
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= n)
      .drop("__shard", "__rn")
    val w2 = Window.partitionBy(keys: _*).orderBy(orderCols: _*)
    survivors.withColumn(rankCol, row_number().over(w2).cast("long"))
      .filter(col(rankCol) <= n)
  }

  /** Group-budgeted priority sampling: an independent fixed-size-k
    * weighted sample (Duffield–Lund–Thorup priority design — see
    * `graft.exec.Sampling.prioritySample` for the global form and the
    * statistics) PER GROUP, with the per-group threshold estimator
    * `Σ max(w, τ_g)` for each group's subset sum. The design the global
    * form's GROUP-BY refusal points at: a shared k is a global budget,
    * whereas here every group gets its own k and its own τ.
    *
    * Scale shape: priorities are scan-stage; the per-group top-(k+1) runs
    * through [[topNPerKey]] (two-phase, shard-salted — a hot group never
    * pins one reducer); the estimator is one group-keyed aggregate over
    * ≤ (k+1)·groups rows. Deterministic (hash priorities, key tie-break)
    * → replayable by a foreign engine.
    *
    * @return one row per group: `(groupCols..., sum_est, n_used)` */
  def priorityPerKey(df: DataFrame, groupCols: Seq[String], key: Column,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val m = 1000003L
    val h = pmod(pmod(col("ps_key"), lit(m)) * lit(1299709L) + lit(104729L),
      lit(m)) + lit(1L)
    val prioritized = df
      .select(groupCols.map(col) ++
        Seq(key.as("ps_key"), weight.cast("double").as("ps_w")): _*)
      .withColumn("ps_prio", col("ps_w") * lit(m.toDouble) / h)
    val top = topNPerKey(prioritized, groupCols,
      Seq(col("ps_prio").desc, col("ps_key").asc), n = k + 1)
    val gk = groupCols.map(col)
    // τ_g: the (k+1)-th priority when the group has k+1 rows, else 0,
    // taken by a window over the group, where the NULL group keeps its
    // rows (an equi-join with a per-group τ frame drops them); the
    // estimator's aggregate reuses the window's partitioning
    val tau = max(when(col("rank") === lit(k + 1L), col("ps_prio")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(gk: _*))
    top.withColumn("ps_tau", coalesce(tau, lit(0.0)))
      .filter(col("rank") <= lit(k.toLong))
      .groupBy(gk: _*)
      .agg(
        sum(round(greatest(col("ps_w"), col("ps_tau")), 4)
          .cast("decimal(28,4)")).cast("double").as("sum_est"),
        count(lit(1)).as("n_used"))
  }

  /** Salted inner equi-join: `fact ⋈ build` on `key`, with the fact side
    * scattered over `salts` sub-keys (content-hash, deterministic) and the
    * build side replicated once per sub-key. Row-for-row identical to the
    * plain inner join; use when one key dominates the fact side and the
    * build side is small enough to replicate but broadcast is not wanted. */
  def saltedJoin(fact: DataFrame, build: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts >= 1)
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.map(col).toIndexedSeq: _*)), lit(salts.toLong)))
    val replicatedBuild = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    saltedFact.join(replicatedBuild, Seq(key, "__salt")).drop("__salt")
  }
}
