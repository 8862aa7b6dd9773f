package graft

import graft.exec.SpecExecutor
import graft.parser.QueryParser

/** End-to-end tests of the parse→plan→execute path (reference entry B:
  * SQL string + flags in, result rows out). */
class SpecExecutorSpec extends SparkSpec {

  private def ensureTables(): Unit = Tables.registerAll(spark, sf0001)

  test("exact SUM query end to end") {
    ensureTables()
    val spec = QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem")
    val r = SpecExecutor.run(spark, spec)
    assert(r.columns.toSeq === Seq("sum_l_extendedprice"))
    val direct = spark.table("lineitem")
      .agg(org.apache.spark.sql.functions.sum("l_extendedprice")).head().getDouble(0)
    assert(r.head().getDouble(0) === direct)
  }

  test("WHERE + GROUP BY query end to end") {
    ensureTables()
    val spec = QueryParser.parse(
      "SELECT AVG(l_quantity) FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag")
    val rows = SpecExecutor.run(spark, spec).collect()
    assert(rows.length === 3)
  }

  test("APPROX() query samples and scales") {
    ensureTables()
    val spec = QueryParser.parse("SELECT APPROX(SUM(l_extendedprice)) FROM lineitem")
    val est = SpecExecutor.run(spark, spec).head().getDouble(0)
    val exact = spark.table("lineitem")
      .agg(org.apache.spark.sql.functions.sum("l_extendedprice")).head().getDouble(0)
    assert(math.abs(est - exact) / exact < 0.5, s"est=$est exact=$exact")
  }

  test("CI flag adds interval columns") {
    ensureTables()
    val spec = QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem",
      samplePercent = Some(10.0), withCi = true)
    val r = SpecExecutor.run(spark, spec)
    assert(r.columns.toSeq === Seq("sum_l_extendedprice",
      "sum_l_extendedprice_ci_lower", "sum_l_extendedprice_ci_upper",
      "sum_l_extendedprice_n"))
    val row = r.head()
    assert(row.getDouble(1) <= row.getDouble(0) && row.getDouble(0) <= row.getDouble(2))
  }

  test("count-exact-compat answers COUNT from the stored total under sampling (A4)") {
    ensureTables()
    val spec = QueryParser.parse("SELECT COUNT(*) FROM lineitem",
      samplePercent = Some(10.0)).copy(countExactCompat = true)
    val r = SpecExecutor.run(spark, spec).head().getDouble(0)
    assert(r === spark.table("lineitem").count().toDouble)
  }

  test("--compat maps --error to the reference's fixed fraction table") {
    import graft.exec.ApproxPlanner
    import graft.model.SamplingStrategy
    // enhanced_aqe_cli.py:243-250: <=1 -> 20%, <=2 -> 15%, <=5 -> 10%, else 5%
    def planned(err: Double) = ApproxPlanner.plan(
      QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem",
        errorThresholdPct = Some(err)),
      method = None, compat = true, seed = None).sampling
    assert(planned(1.0) === SamplingStrategy.Uniform(0.20, 42L))
    assert(planned(2.0) === SamplingStrategy.Uniform(0.15, 42L))
    assert(planned(5.0) === SamplingStrategy.Uniform(0.10, 42L))
    assert(planned(10.0) === SamplingStrategy.Uniform(0.05, 42L))
    // WITHOUT --compat the same flag still runs the adaptive loop
    val noCompat = ApproxPlanner.plan(
      QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem",
        errorThresholdPct = Some(2.0)),
      method = None, compat = false, seed = None).sampling
    assert(noCompat.isInstanceOf[SamplingStrategy.Adaptive])
  }

  test("--method routes to the right design; --seed re-seeds Bernoulli") {
    import graft.exec.ApproxPlanner
    import graft.model.SamplingStrategy
    val base = QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem",
      samplePercent = Some(10.0))
    assert(ApproxPlanner.plan(base, Some("systematic"), compat = false, seed = None)
      .sampling === SamplingStrategy.Systematic(10L))
    assert(ApproxPlanner.plan(base, Some("block"), compat = false, seed = None)
      .sampling === SamplingStrategy.Block(64L, 10L))
    assert(ApproxPlanner.plan(base, Some("random"), compat = false, seed = Some(7L))
      .sampling === SamplingStrategy.Uniform(0.10, 7L))
    assert(ApproxPlanner.plan(base, None, compat = false, seed = Some(9L))
      .sampling === SamplingStrategy.Uniform(0.10, 9L))
    // size router (enhanced_aqe_cli.py:178-186): big -> stride, medium ->
    // random probe, small -> sequential/cluster
    assert(ApproxPlanner.routeBySize(60000L, 0.1, 42L) === SamplingStrategy.Systematic(10L))
    assert(ApproxPlanner.routeBySize(20000L, 0.1, 42L) === SamplingStrategy.Uniform(0.1, 42L))
    assert(ApproxPlanner.routeBySize(5000L, 0.1, 42L) === SamplingStrategy.Block(64L, 10L))
    // query-shape recommendation (enhanced_aqe_cli.py:116-131)
    assert(ApproxPlanner.optimalMethod("SELECT SUM(x) FROM t", Some(200000L)) === "revolutionary")
    assert(ApproxPlanner.optimalMethod("SELECT SUM(x) FROM t", Some(1000L)) === "clt")
    assert(ApproxPlanner.optimalMethod("SELECT AVG(x) FROM t", None) === "random")
    assert(ApproxPlanner.optimalMethod("SELECT MIN(x) FROM t GROUP BY g", None) === "parallel")
  }

  test("default sampling key is content-based: same rows under any partitioning") {
    import org.apache.spark.sql.functions._
    import graft.model.SamplingStrategy
    val aqe = graft.api.AqeSession(spark)
    val df = Tables.lineitem(spark, sf0001)
    // exact decimal sum: order-independent, so only the selected ROW SET
    // matters (a double sum would drift ~1e-15 with partition order)
    def sampledSum(d: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      aqe.table(d).sampled(SamplingStrategy.Systematic(7L)).df
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")))
        .head().getDecimal(0)
    // monotonically_increasing_id would pick a different row set per layout
    assert(sampledSum(df) === sampledSum(df.repartition(13)))
    assert(sampledSum(df) === sampledSum(df.coalesce(1)))
  }

  test("CLI samples over registered lineitem stride its declared row key; undeclared tables keep the content hash") {
    import org.apache.spark.sql.functions._
    import graft.model.SamplingStrategy
    // a session of its own, so its lineitem view (sf0.01) leaves the
    // suite's sf0.001 views alone
    val s = spark.newSession()
    val li = Tables.lineitem(s, sf001)
    li.createOrReplaceTempView("lineitem")
    li.createOrReplaceTempView("lineitem_multi")
    val key = Tables.lineitemKey.column
    val steps = 2 to 100
    val counts = li.agg(count(lit(1)), steps.map(st =>
        count(when(pmod(key, lit(st.toLong)) === 0, lit(1)))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val (n, kept) = (counts.head.toDouble, counts.tail)
    // rows sharing (l_orderkey, l_linenumber) share a key and are sampled
    // together: the kept count's variance grows by the design effect
    // Σc²/Σc over the key's clusters (~1.56 on this fixture)
    val deff = li.groupBy(key).count().agg(
        sum(col("count") * col("count")).cast("double") / sum(col("count")))
      .head().getDouble(0)
    def cli(sql: String, sampling: SamplingStrategy) =
      SpecExecutor.run(s, QueryParser.parse(sql).copy(sampling = sampling))
    steps.zip(kept).foreach { case (st, k) =>
      val sys = SamplingStrategy.Systematic(st.toLong)
      // exactly the pmod(key, step) = 0 rows: their count, and their
      // orderkey sum (an exact integer in double), scaled by the step
      assert(cli("SELECT COUNT(*) FROM lineitem", sys).head().getDouble(0) ===
        k.toDouble * st, s"step $st")
      val keySum = li.filter(pmod(key, lit(st.toLong)) === 0)
        .agg(sum(col("l_orderkey"))).head().getLong(0)
      assert(cli("SELECT SUM(l_orderkey) FROM lineitem", sys).head()
        .getDouble(0) === keySum.toDouble * st, s"step $st")
      // kept fraction near 1/step: within 3%, or within 4 binomial
      // standard errors widened by the design effect where 3% is below
      // the sampling noise (at step 100 one standard error is ~5%)
      val rel = math.abs(k / n * st - 1.0)
      val tol = math.max(0.03, 4.0 * math.sqrt(deff * (st - 1) / n))
      assert(rel <= tol, s"step $st kept $k of $n: off 1/step by $rel > $tol")
    }
    // the sample scans read the key's columns, never hash the full row
    Seq(SamplingStrategy.Systematic(10L), SamplingStrategy.Block(64L, 10L))
      .foreach { design =>
        val plan = cli("SELECT SUM(l_extendedprice) FROM lineitem", design)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("xxhash64") && !plan.contains("l_comment"), plan)
      }
    // an undeclared table (same columns, another name) keeps the
    // content hash: exactly the rows pmod(contentKey, step) = 0 selects
    val contentKept = li.filter(pmod(Tables.contentKey(li), lit(10L)) === 0)
      .count()
    assert(contentKept != kept(10 - 2), "the two keys must pick different rows")
    assert(cli("SELECT COUNT(*) FROM lineitem_multi",
      SamplingStrategy.Systematic(10L)).head().getDouble(0) === contentKept * 10.0)
    val multiPlan = cli("SELECT SUM(l_extendedprice) FROM lineitem_multi",
      SamplingStrategy.Systematic(10L)).queryExecution.executedPlan.toString
    assert(multiPlan.contains("xxhash64"), multiPlan)
    // a lineitem whose key would be INT (overflowing under ANSI) keeps the
    // content hash too
    val liInt = li.withColumn("l_orderkey", col("l_orderkey").cast("int"))
    liInt.createOrReplaceTempView("lineitem")
    val intKept = liInt.filter(pmod(Tables.contentKey(liInt), lit(10L)) === 0)
      .count()
    assert(cli("SELECT COUNT(*) FROM lineitem",
      SamplingStrategy.Systematic(10L)).head().getDouble(0) === intKept * 10.0)
  }

  test("--error routes through the adaptive executor with status column") {
    ensureTables()
    val spec = QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem",
      errorThresholdPct = Some(5.0))
    val r = SpecExecutor.run(spark, spec)
    assert(r.columns.contains("status"))
    assert(Set("Stable", "Drifting", "InsufficientData").contains(r.head().getString(4)))
  }

  test("--error with GROUP BY routes to the per-group ladder for SUM/AVG/COUNT") {
    import org.apache.spark.sql.functions._
    ensureTables()
    val spec = QueryParser.parse(
      "SELECT SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag",
      errorThresholdPct = Some(5.0))
    val r = SpecExecutor.run(spark, spec)
    assert(r.columns.toSeq === Seq("l_returnflag", "sum_l_extendedprice",
      "sum_l_extendedprice_ci_lower", "sum_l_extendedprice_ci_upper",
      "sum_l_extendedprice_n", "status"))
    val rows = r.collect()
    assert(rows.length === 3) // A / N / R
    rows.foreach { row =>
      assert(Set("Stable", "Drifting", "InsufficientData", "Exact")
        .contains(row.getString(5)), row.toString)
      assert(row.getDouble(2) <= row.getDouble(1) &&
        row.getDouble(1) <= row.getDouble(3), s"CI does not bracket: $row")
    }
    // round-7 verdict item 4: AVG rides the same moment ladder with a
    // ratio CI (no scale factor) — the per-group estimate must track the
    // exact per-group mean and its CI must bracket it
    val exactAvg = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice")).as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val avgSpec = QueryParser.parse(
      "SELECT AVG(l_extendedprice) FROM lineitem GROUP BY l_returnflag",
      errorThresholdPct = Some(5.0))
    val ar = SpecExecutor.run(spark, avgSpec)
    assert(ar.columns.toSeq === Seq("l_returnflag", "avg_l_extendedprice",
      "avg_l_extendedprice_ci_lower", "avg_l_extendedprice_ci_upper",
      "avg_l_extendedprice_n", "status"))
    val arows = ar.collect()
    assert(arows.length === 3)
    arows.foreach { row =>
      val truth = exactAvg(row.getString(0))
      assert(math.abs(row.getDouble(1) - truth) / truth < 0.2,
        s"avg estimate far from exact: $row vs $truth")
      if (row.getString(5) == "Stable")
        assert(row.getDouble(2) <= truth && truth <= row.getDouble(3),
          s"stable avg CI must bracket exact: $row vs $truth")
    }
    // COUNT is the n-moment alone: estimate ≈ exact group size, CI covers
    val exactCnt = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cntSpec = QueryParser.parse(
      "SELECT COUNT(*) FROM lineitem GROUP BY l_returnflag",
      errorThresholdPct = Some(10.0))
    val cr = SpecExecutor.run(spark, cntSpec)
    cr.collect().foreach { row =>
      val truth = exactCnt(row.getString(0)).toDouble
      assert(math.abs(row.getDouble(1) - truth) / truth < 0.3,
        s"count estimate far from exact: $row vs $truth")
    }
    // unsupported aggregates still refuse loudly, not bias
    val minSpec = QueryParser.parse(
      "SELECT MIN(l_extendedprice) FROM lineitem GROUP BY l_returnflag",
      errorThresholdPct = Some(5.0))
    val e = intercept[IllegalArgumentException](SpecExecutor.run(spark, minSpec))
    assert(e.getMessage.contains("grouped adaptive undefined"))
  }

  test("--method file skips part-files physically and brackets the exact sum") {
    import org.apache.spark.sql.functions._
    import graft.exec.ApproxPlanner
    import graft.model.SamplingStrategy
    // a genuinely multi-file table: 8 part-files keyed so files are
    // exchangeable (hash layout), written once per suite run
    val dir = java.nio.file.Files.createTempDirectory("graft_filesamp").toString
    Tables.lineitem(spark, sf0001).repartition(8).write
      .mode("overwrite").parquet(dir)
    val multi = spark.read.parquet(dir)
    multi.createOrReplaceTempView("lineitem_multi")
    val exact = multi.agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
      .cast("double")).head.getDouble(0)

    val planned = ApproxPlanner.strategyForMethod("file", fraction = 0.25)
    assert(planned === SamplingStrategy.FileLevel(4))

    val spec = QueryParser.parse(
      "SELECT SUM(l_extendedprice) FROM lineitem_multi",
      samplePercent = Some(25.0), withCi = true)
      .copy(sampling = planned)
    val r = SpecExecutor.run(spark, spec)
    val row = r.head()
    val est = row.getDouble(0)
    // design-honest CI should bracket exact on an exchangeable layout
    assert(row.getDouble(1) <= exact && exact <= row.getDouble(2),
      s"CI [${row.getDouble(1)}, ${row.getDouble(2)}] misses exact $exact (est $est)")
    assert(row.getLong(3) === 2L, "8 files / step 4 = 2 file-clusters read")
    // the scan itself must touch only the picked files — the I/O skip is
    // the whole point of the design
    val sf = graft.sources.FileSampling.fromFiles(
      spark, multi.inputFiles.toIndexedSeq, 4, 0)
    assert(sf.df.inputFiles.length === 2 && multi.inputFiles.length === 8)
    assert(sf.scaleFactor === 4.0)
    // over the registered table the picked files are read with its schema:
    // building the answer runs no footer-inference job, and the sample is
    // the rows an inferred-schema read of the same files gives
    assert(jobsDuring(SpecExecutor.run(spark, spec))._2.jobs === 0)
    val tableSf = graft.sources.FileSampling.fromTable(spark.table("lineitem_multi"), 4)
    def moneySum(d: org.apache.spark.sql.DataFrame) =
      d.agg(sum(col("l_extendedprice").cast("decimal(18,2)")), count(lit(1))).head()
    assert(tableSf.df.schema === sf.df.schema)
    assert(tableSf.df.inputFiles.toSet === sf.df.inputFiles.toSet)
    assert(moneySum(tableSf.df) === moneySum(sf.df))
    // a table that is not a plain file relation falls back to inference
    val projected = graft.sources.FileSampling.fromTable(
      multi.withColumn("extra", lit(1)), 4)
    assert(projected.df.schema === sf.df.schema)
    // GROUP BY must refuse loudly (group coverage per file uncontrolled)
    val g = QueryParser.parse(
      "SELECT SUM(l_extendedprice) FROM lineitem_multi GROUP BY l_returnflag")
      .copy(sampling = planned)
    intercept[IllegalArgumentException] { SpecExecutor.run(spark, g) }
  }

  test("--method priority routes to the fixed-size weighted design; estimate tracks the exact sum") {
    import org.apache.spark.sql.functions._
    import graft.exec.ApproxPlanner
    import graft.model.SamplingStrategy
    ensureTables()
    // k from fraction × known size; fallback budget without a count
    assert(ApproxPlanner.strategyForMethod("priority", fraction = 0.1,
      totalRecords = Some(6000L)) === SamplingStrategy.Priority(600))
    assert(ApproxPlanner.strategyForMethod("priority") ===
      SamplingStrategy.Priority(1000))

    val spec = QueryParser.parse("SELECT SUM(l_extendedprice) FROM lineitem")
      .copy(sampling = SamplingStrategy.Priority(500))
    val r1 = SpecExecutor.run(spark, spec).head()
    val exact = spark.table("lineitem")
      .agg(sum(col("l_extendedprice"))).head.getDouble(0)
    assert(math.abs(r1.getDouble(0) / exact - 1.0) < 0.15,
      s"est ${r1.getDouble(0)} vs exact $exact")
    assert(r1.getLong(1) === 500L)
    // deterministic: key-hash priorities, same answer every run
    val r2 = SpecExecutor.run(spark, spec).head()
    assert(r1.getDouble(0) === r2.getDouble(0))
    // COUNT degenerates to uniform-without-replacement, still unbiased-ish
    val cs = QueryParser.parse("SELECT COUNT(*) FROM lineitem")
      .copy(sampling = SamplingStrategy.Priority(500))
    val c = SpecExecutor.run(spark, cs).head().getDouble(0)
    val nTrue = spark.table("lineitem").count().toDouble
    assert(math.abs(c / nTrue - 1.0) < 0.15, s"count est $c vs $nTrue")
    // GROUP BY routes to the group-budgeted design (Skew.priorityPerKey):
    // every group gets its own size-k sample and threshold, and each
    // group's estimate tracks its exact sum
    val g = QueryParser.parse(
      "SELECT SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag")
      .copy(sampling = SamplingStrategy.Priority(200))
    val grouped = SpecExecutor.run(spark, g).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val exactByGroup = spark.table("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(grouped.keySet === exactByGroup.keySet)
    exactByGroup.foreach { case (grpKey, (s, n)) =>
      val (est, used) = grouped(grpKey)
      assert(used === math.min(200L, n))
      assert(math.abs(est / s - 1.0) < 0.2, s"group $grpKey: est $est vs $s")
    }
    // negative weights refuse loudly at execution (silent bias otherwise)
    import spark.implicits._
    Seq((1L, -5.0), (2L, 3.0), (3L, 7.0)).toDF("k", "v")
      .createOrReplaceTempView("neg_weights_t")
    val negSpec = QueryParser.parse("SELECT SUM(v) FROM neg_weights_t")
      .copy(sampling = SamplingStrategy.Priority(2))
    val ex = intercept[Exception] {
      SpecExecutor.run(spark, negSpec).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("non-negative")),
      s"expected the non-negative weight guard, got: ${messages(ex)}")
  }

  /** sf0.001 lineitem registered as `lineitem` in a session of its own,
    * with the return flag NULL on every first line item, so grouped
    * answers carry a NULL group. The suite's own views stay untouched. */
  private def nullGroupSession(): org.apache.spark.sql.SparkSession = {
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    Tables.lineitem(s, sf0001).withColumn("l_returnflag",
        when(col("l_linenumber") === 1, lit(null).cast("string"))
          .otherwise(col("l_returnflag")))
      .createOrReplaceTempView("lineitem")
    s
  }

  /** Every grouped CLI form over GROUP BY `g`, labelled. */
  private def groupedForms(g: String): Seq[(String, graft.model.ApproxSpec)] = {
    import graft.model.SamplingStrategy
    def q(agg: String) =
      s"SELECT $agg FROM lineitem WHERE l_quantity BETWEEN 5 AND 40 GROUP BY $g"
    Seq(
      "exact" -> QueryParser.parse(q("AVG(l_quantity)")),
      "uniform" -> QueryParser.parse(q("COUNT(*)"), samplePercent = Some(10.0)),
      "systematic" -> QueryParser.parse(q("SUM(l_extendedprice)"))
        .copy(sampling = SamplingStrategy.Systematic(10L)),
      "ci" -> QueryParser.parse(q("SUM(l_extendedprice)"),
        samplePercent = Some(10.0), withCi = true),
      "priority" -> QueryParser.parse(q("SUM(l_extendedprice)"))
        .copy(sampling = SamplingStrategy.Priority(20)),
      "adaptive" -> QueryParser.parse(q("AVG(l_extendedprice)"),
        errorThresholdPct = Some(5.0)))
      .map { case (form, spec) => s"$form by $g" -> spec }
  }

  /** A grouped CLI answer built as the executor built it before it sorted
    * in one partition: the same aggregate, ended by a global `orderBy`. */
  private def orderByTwin(s: org.apache.spark.sql.SparkSession,
      spec: graft.model.ApproxSpec): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.model.{AggKind, SamplingStrategy}
    val g = spec.groupBy.get
    val base = spec.where.foldLeft(s.table(spec.table))((d, w) => d.filter(expr(w)))
    val key = Tables.samplingKey(spec.table, base)
    val value = if (spec.column == "*") lit(1L) else col(spec.column)
    val alias = s"${spec.agg.sqlName}_${if (spec.column == "*") "all" else spec.column}"
    val answer = spec.sampling match {
      case p: SamplingStrategy.Priority =>
        graft.operators.Skew.priorityPerKey(base, Seq(g), key,
            if (spec.agg == AggKind.Count) lit(1.0) else value, p.k)
          .select(col(g), col("sum_est").as(alias), col("n_used").as(s"${alias}_n"))
      case a: SamplingStrategy.Adaptive =>
        graft.exec.AdaptiveExecutor.runGroupedDeterministic(base, value, key,
            col(g), errorThresholdPct = a.errorThresholdPct,
            confidence = a.confidence, agg = spec.agg.sqlName)
          .select(col("group").as(g), col("sum_est").as(alias),
            col("ci_lower").as(s"${alias}_ci_lower"),
            col("ci_upper").as(s"${alias}_ci_upper"),
            col("n_used").as(s"${alias}_n"), col("status"))
      case design =>
        val t = graft.api.AqeSession(s).table(base, key)
        if (spec.withCi) t.approxAggCiBy(spec.agg, value, Seq(col(g)), design,
          alias, spec.confidence)
        else t.approxAggBy(spec.agg, value, Seq(col(g)), design, alias)
    }
    answer.orderBy(col(g))
  }

  test("grouped CLI answers equal their orderBy twins row for row and in order, in at most 2 jobs each (3 for priority)") {
    import graft.model.SamplingStrategy
    val s = nullGroupSession()
    // l_orderkey has ~1,500 groups on sf0.001, against 4 shuffle partitions
    for (g <- Seq("l_returnflag", "l_orderkey"); (label, spec) <- groupedForms(g)) {
      val want = orderByTwin(s, spec).collect().toSeq
      val (got, spent) = jobsDuring(SpecExecutor.run(s, spec).collect().toSeq)
      assert(got === want, label)
      if (g == "l_returnflag") assert(got.head.isNullAt(0), s"$label: NULL group first")
      else assert(got.length > 100, s"$label: ${got.length} groups")
      // priority's per-group top-(k+1) is two-phase (Skew.topNPerKey), so
      // it shuffles twice before its final stage; every other form runs
      // its aggregate's map stage and the final stage
      val budget = if (spec.sampling.isInstanceOf[SamplingStrategy.Priority]) 3 else 2
      assert(spent.jobs <= budget, s"$label ran ${spent.jobs} jobs")
    }
  }

  test("grouped CLI answers keep their rows and order under 1 or 8 shuffle partitions and with AQE off") {
    val s = nullGroupSession()
    val forms = Seq("l_returnflag", "l_orderkey").flatMap(groupedForms)
    def answers() = forms.map { case (label, spec) =>
      label -> SpecExecutor.run(s, spec).collect().toSeq }
    val want = answers()
    Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.enabled" -> "false").foreach { case (k, v) =>
      val before = s.conf.getOption(k)
      s.conf.set(k, v)
      try answers().zip(want).foreach { case ((label, got), (_, rows)) =>
        assert(got === rows, s"$label with $k=$v") }
      finally before.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("the aqp_mixed deck's 12 query shapes run at most 24 Spark jobs on sf0.01") {
    import graft.exec.ApproxPlanner
    // a session of its own over sf0.01 lineitem in 40 part-files, as the
    // benchmark lays its table out
    val s = spark.newSession()
    val dir = tmpPath("aqp_deck")
    Tables.lineitem(spark, sf001).repartition(40).write.mode("overwrite")
      .parquet(Tables.path(dir, "lineitem"))
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    val qty = " WHERE l_quantity BETWEEN 11 AND 31"
    val disc = " WHERE l_discount BETWEEN 0.03 AND 0.07"
    val (sum, avgQ, cnt) =
      ("SUM(l_extendedprice)", "AVG(l_quantity)", "COUNT(*)")
    def sql(agg: String, where: String = "", group: String = "") =
      s"SELECT $agg FROM lineitem$where" +
        (if (group.isEmpty) "" else s" GROUP BY $group")
    // (label, sql, --sample, --error, --ci, --method), in the deck's order
    val deck = Seq(
      ("exact", sql(sum, qty), None, None, false, None),
      ("exact grouped", sql(avgQ, group = "l_returnflag"), None, None, false, None),
      ("file", sql(sum), Some(10.0), None, false, Some("file")),
      ("file where", sql(cnt, qty), Some(10.0), None, false, Some("file")),
      ("uniform grouped", sql(cnt, disc, "l_linestatus"), Some(10.0), None, false, None),
      ("systematic", sql(sum, qty), Some(10.0), None, false, Some("systematic")),
      ("block", sql(avgQ), Some(10.0), None, false, Some("block")),
      ("ci grouped", sql(sum, qty, "l_returnflag"), Some(10.0), None, true, None),
      ("ci", sql(avgQ, disc), Some(10.0), None, true, None),
      ("adaptive", sql(sum, qty), None, Some(2.0), false, None),
      ("adaptive count", sql(cnt, disc), None, Some(2.0), false, None),
      ("adaptive grouped", sql(sum, qty, "l_returnflag"), None, Some(1.0), false, None))
    val spent = deck.map { case (label, q, sample, error, ci, method) =>
      val spec = ApproxPlanner.plan(QueryParser.parse(q, samplePercent = sample,
        errorThresholdPct = error, withCi = ci), method, compat = false, seed = Some(7L))
      val (rows, count) = jobsDuring(SpecExecutor.run(s, spec).collect())
      assert(rows.nonEmpty, label)
      label -> count.jobs
    }
    // 2 per query: every grouped answer sorts in one partition (a global
    // orderBy added a sampling job and a range exchange, 4 per grouped
    // query) and the file samples read with the table's schema (footer
    // inference added a job): 34 jobs before either
    assert(spent.map(_._2).sum <= 24, spent.mkString(", "))
  }
}
