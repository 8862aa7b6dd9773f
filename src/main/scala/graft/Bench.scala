package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Each query gets one warmup run (JIT + codegen + file-cache) and the
  * median of 3 timed runs; the timed action is a full materialization
  * (`collect` on the final, already-aggregated result — all results here
  * are small aggregates, so collect cost is nil and the measured work is
  * the distributed plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_bench_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Self-defending measurement (round-3 lesson: a co-loaded 32-core box
    // produced probe ratios the docs disavowed): record the 1-minute load
    // average into the JSON so a polluted run is VISIBLE in the artifact,
    // and re-run any probe whose 3-run spread exceeds 30% of its median
    // (keeping the calmer batch's median, counting the re-runs).
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // QUIESCE GATE (round-4 lesson: both driver-recorded artifacts were
    // captured on a co-loaded box and their probe ratios contradicted the
    // quiesced measurements): refuse to start while the 1-minute load
    // average exceeds 2.0, waiting up to 3 minutes for the box to calm.
    // If it never does — or probes stay unstable anyway — the run is
    // STAMPED "polluted": true in the JSON so no one trusts its ratios.
    var quiesceWaitSec = 0
    while (loadavg() > 2.0 && quiesceWaitSec < 180) {
      Thread.sleep(5000); quiesceWaitSec += 5
    }
    val loadStart = loadavg()
    // Round-5 lesson: the quiesce gate passed at t=0 and co-load arrived
    // MID-RUN anyway, poisoning the recorded artifact. Loadavg is useless
    // mid-run (our own local[32] work drives it to ~15), so co-load is
    // detected from /proc instead: the CPU jiffies burned by OTHER
    // processes during a probe batch ((Δtotal busy − Δself) / Δwall).
    // A batch measured while others burned > CoLoadCores cores is
    // re-run after a bounded settle sleep; probes still slow+unstable at
    // the end of the run get ONE redemption batch, and only those that
    // stay dirty feed the polluted stamp (per-probe, so one noisy probe
    // cannot condemn a clean artifact — and a clean end cannot hide a
    // dirty probe).
    def selfJiffies(): Long =
      try {
        val s = scala.io.Source.fromFile("/proc/self/stat").mkString
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong // utime + stime
      } catch { case _: Throwable => -1L }
    def busyJiffies(): Long =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        // user+nice+system+irq+softirq+steal (idle, iowait excluded)
        f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
      } catch { case _: Throwable => -1L }
    // cores of CPU used by other processes while f ran (USER_HZ = 100)
    def withOtherCores[T](f: () => T): (T, Double) = {
      val s0 = selfJiffies(); val b0 = busyJiffies()
      val t0 = System.nanoTime()
      val r = f()
      val wall = (System.nanoTime() - t0) / 1e9
      val oc =
        if (s0 < 0 || b0 < 0 || wall <= 0) -1.0
        else ((busyJiffies() - b0) - (selfJiffies() - s0)) / 100.0 / wall
      (r, math.max(oc, -1.0))
    }
    val CoLoadCores = 2.0
    var unstableReruns = 0
    // sub-half-second probes re-run from JIT/GC noise even on a silent
    // box (30% of 150 ms is one safepoint) — only SLOW-probe instability
    // is co-load evidence, so only it feeds the polluted stamp
    var unstableRerunsSlow = 0
    var coloadBatches = 0
    var maxOtherCores = 0.0
    // probes still slow+dirty after in-place retries, awaiting redemption
    val probeRedo = scala.collection.mutable.LinkedHashMap
      .empty[String, () => Double]
    val probeDirty = scala.collection.mutable.LinkedHashSet.empty[String]
    // every probe's single-run thunk, kept so the CANARY attribution pass
    // (self-defense v3, below) can send a lane to redemption even when
    // its own spread looked clean
    val probeOnce = scala.collection.mutable.LinkedHashMap
      .empty[String, () => Double]
    def spreadOf(b: Seq[Double]): Double =
      (b.last - b.head) / math.max(b(1), 1e-9)
    def batchOf(once: () => Double): (Seq[Double], Double) = {
      val (ts, oc) = withOtherCores(() => Seq(once(), once(), once()))
      if (oc > maxOtherCores) maxOtherCores = oc
      (ts.sorted, oc)
    }
    def stableMedian(name: String, once: () => Double): Double = {
      probeOnce(name) = once
      var (b, oc) = batchOf(once)
      var tries = 0
      while ((spreadOf(b) > 0.30 || oc > CoLoadCores) && tries < 2) {
        unstableReruns += 1
        if (b(1) > 0.5) unstableRerunsSlow += 1
        if (oc > CoLoadCores) { coloadBatches += 1; Thread.sleep(8000) }
        val (b2, oc2) = batchOf(once)
        if (spreadOf(b2) <= spreadOf(b)) { b = b2; oc = oc2 }
        tries += 1
      }
      if ((spreadOf(b) > 0.30 || oc > CoLoadCores) && b(1) > 0.5) {
        probeDirty += name
        probeRedo(name) = once
      }
      b(1)
    }

    val headline = Inventory.all.filter(_.headline)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (the headline loop itself runs AFTER the canary machinery below, so
    // its lanes ride a bracket like every other group — round-14)
    // Scale probe at reference-baseline size (BASELINE.md: 10M-row SUM,
    // 5.123 s exact, up to 234x claimed sampled speedup): union the sf
    // lineitem 10x (~6M rows at sf0.1) and compare a full exact SUM against
    // a 10% systematic sample SUM — the honest comparable is the
    // exact/sampled ratio at equal fractions, not absolute wall-clock.
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sfDir)
    val li10 = Seq.fill(10)(li).reduce(_ union _)
    val key = Tables.lineitemKey.column
    def timeMedian(name: String)(f: => Unit): Double = {
      f // warmup
      stableMedian(name, { () =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
    }
    val nRows = li10.count()
    // fixture caches are keyed on the scale factor: a bare _SUCCESS check
    // would silently reuse files built from a different SPARK_GRAFT_SF_DIR
    val sfTag = new java.io.File(sfDir).getName
    // materialize once as a 40-file dataset so file-level sampling has
    // files to skip (the fixtures are single-file)
    val li10Path = s"/tmp/graft_bench_li10_$sfTag.parquet"
    if (!new java.io.File(li10Path, "_SUCCESS").exists()) {
      li10.repartition(40).write.mode("overwrite").parquet(li10Path)
    }
    val li10f = spark.read.parquet(li10Path)
    // ---- bench self-defense v3: PER-LANE canary attribution (round-12
    // verdict item 1). The r12 driver stamp carried 4-35x regressions in
    // five lanes whose code had not changed while the single start-of-run
    // canary read in-band: one probe per run cannot see a MID-RUN host
    // collapse (x_loadavg_end 14.6, 18 unstable reruns). A cheap fixed
    // probe — the exact SUM over the warm 6 M-row li10 frame, best of 2
    // (max filters one-off GC/JIT blips) — runs BEFORE and AFTER each
    // heavy lane group; a lane whose bracketing canaries are out-of-band
    // (min bracket < 0.4 x the run's MEDIAN canary — r12's collapse read
    // 0.3-0.45x of healthy; the reference is the median, not the max,
    // because a single pristine-moment spike otherwise sets a bar that
    // flags the normal mid-run GC/page-cache dips: r13 run 1 measured
    // healthy canaries 42-60 next to one 92 spike) is stamped
    // unstable-by-canary and sent to end-of-run redemption (which itself
    // now requires an in-band canary) instead of standing as a clean
    // number.
    val canarySeq =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val canaryBrackets =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def canaryProbe(tag: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        li10f.agg(sum(col("l_extendedprice"))).collect(): Unit
        nRows / ((System.nanoTime() - t0) / 1e9) / 1e6
      }
      once() // warm-up: absorbs the retiring lane's GC debt + cold JIT
      val mrows = math.max(once(), once())
      canarySeq(tag) = mrows
      mrows
    }
    // run `f` with broadcast joins disabled — the conf context the
    // unijoin60/skew lanes measure under, reproducible at redemption time
    def noBroadcast[T](f: => T): T = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try f
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    var canaryPending: (Seq[String], Double) = null
    def canaryPre(lanes: String*): Unit = {
      // a silent overwrite here would DROP a bracket if a pre/post pairing
      // is ever missed — fail at the mispaired call site (round-13 ADVICE)
      require(canaryPending == null,
        s"canaryPre(${lanes.head}) called with an unflushed bracket for " +
          s"${canaryPending._1.mkString(",")} — missing canaryPost()")
      canaryPending = (lanes.toSeq, canaryProbe("pre_" + lanes.head))
    }
    def canaryPost(): Unit = if (canaryPending != null) {
      val post = canaryProbe("post_" + canaryPending._1.head)
      canaryPending._1.foreach(n =>
        canaryBrackets(n) = (canaryPending._2, post))
      canaryPending = null
    }
    // headline queries, bracketed as one group (their lanes are cheap —
    // per-lane probes would cost more than the lanes; round-14)
    // session warm-up, discarded: the FIRST headline query otherwise pays
    // one-time session costs (janino codegen compiler init, parquet footer
    // cache, JIT tiers) partly inside its measured batch — r7 recorded q01
    // 0.35→0.60 s purely from probe ordering (round-7 verdict item 5)
    headline.headOption.foreach { q =>
      (1 to 2).foreach { _ =>
        try { q.run(spark, sfDir).collect(): Unit }
        catch { case _: Throwable => () }
      }
    }
    canaryPre(headline.map(_.name): _*)
    val results = headline.map { q =>
      def once(): Double = {
        val t0 = System.nanoTime()
        q.run(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val t = try {
        once() // warmup
        stableMedian(q.name, () => once())
      } catch {
        case e: Throwable =>
          errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\n\\r\\t]", " ").take(200)
          -1.0
      }
      q.name -> t
    }
    canaryPost()
    canaryPre("x10_exact_sum_sec", "x10_sys10_sum_sec",
      "x10_filesample10_sum_sec")
    val tExact = timeMedian("x10_exact_sum_sec") {
      li10f.agg(sum(col("l_extendedprice"))).collect(): Unit
    }
    // row-level systematic: variance win only, no IO win (documented)
    val tSampled = timeMedian("x10_sys10_sum_sec") {
      li10f.filter(pmod(key, lit(10L)) === 0)
        .agg(sum(col("l_extendedprice")) * lit(10.0)).collect(): Unit
    }
    // file-level cluster sampling: reads 1/10 of the part-files
    val fileSf = graft.sources.FileSampling.parquetFileSample(spark, li10Path, 10)
    val tFile = timeMedian("x10_filesample10_sum_sec") {
      fileSf.df.agg(sum(col("l_extendedprice")) * lit(fileSf.scaleFactor))
        .collect(): Unit
    }
    canaryPost()
    // estimator accuracy at the same 10% fractions (the reference claims
    // 95.8–99.96% across its sampling configs — this is the measured
    // comparable, not a simulation)
    val exactSumV = li10f.agg(sum(col("l_extendedprice"))).first.getDouble(0)
    val sysEstV = li10f.filter(pmod(key, lit(10L)) === 0)
      .agg(sum(col("l_extendedprice")) * lit(10.0)).first.getDouble(0)
    val fileEstV = fileSf.df
      .agg(sum(col("l_extendedprice")) * lit(fileSf.scaleFactor))
      .first.getDouble(0)
    def accPct(est: Double): Double =
      100.0 * (1.0 - math.abs(est - exactSumV) / math.abs(exactSumV))
    // Data-layout probe: the same rows written range-clustered on the
    // filter column vs hash-scattered. Parquet row-group min/max stats +
    // the pushed-down band predicate let the clustered read skip nearly
    // every file/row group — the sort-on-write lever that turns a
    // selective 100 TB scan into a few-GB one (zone-map pruning; the
    // scattered layout must decode every row group). Probed at 60 M rows
    // (built once, cached on disk): at 6 M the ~0.08 s fixed job overhead
    // swamps the decode gap and the measured ratio undersells the pruning
    // (1.3× there vs the true ~40-file skip — same overhead bound the
    // file-sampling probe documents).
    val liScatteredPath = s"/tmp/graft_bench_li100_scattered_$sfTag.parquet"
    if (!new java.io.File(liScatteredPath, "_SUCCESS").exists()) {
      Seq.fill(10)(li10f).reduce(_ union _).repartition(80)
        .write.mode("overwrite").parquet(liScatteredPath)
    }
    val liScattered = spark.read.parquet(liScatteredPath)
    val liClusteredPath = s"/tmp/graft_bench_li100_clustered_$sfTag.parquet"
    if (!new java.io.File(liClusteredPath, "_SUCCESS").exists()) {
      graft.sources.Layout.clusteredWrite(liScattered, liClusteredPath,
        "l_orderkey", files = 80)
    }
    val liClustered = spark.read.parquet(liClusteredPath)
    // Z-order leg: interleave (l_orderkey, l_partkey) bin bits — a band on
    // EITHER column prunes, where the linear layout prunes only l_orderkey
    // bands and pays full price on l_partkey ones.
    val liZorderPath = s"/tmp/graft_bench_li100_zorder_$sfTag.parquet"
    if (!new java.io.File(liZorderPath, "_SUCCESS").exists()) {
      graft.sources.Layout.zorderWrite(liScattered, liZorderPath,
        Seq("l_orderkey", "l_partkey"), files = 80)
    }
    val liZorder = spark.read.parquet(liZorderPath)
    val keyStats = li10f.agg(max(col("l_orderkey")), max(col("l_partkey"))).first
    val (maxKey, maxPart) = (keyStats.getLong(0), keyStats.getLong(1))
    // full-row retrieval (hash of every column ⇒ every column decodes):
    // the point-lookup/band-fetch workload zone maps exist for — a
    // narrow-projection agg is overhead-bound at sf0.1 and hides the win
    def bandScan(df: org.apache.spark.sql.DataFrame, c: String,
        lo: Long, hi: Long): Unit =
      df.filter(col(c).between(lo, hi))
        .agg(count(lit(1)),
          sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
            .cast("decimal(38,0)")))
        .collect(): Unit
    val (kLo, kHi) = (maxKey / 2, maxKey / 2 + maxKey / 100)    // ~1% band
    val (pLo, pHi) = (maxPart / 2, maxPart / 2 + maxPart / 100) // ~1% band
    // one bracket per CHEAP group (round-13 verdict item 3: the r13 driver
    // stamp carried x_layout_clustered_sec 5.88 — a mid-run dip on an
    // unbracketed lane, stamping a nonsense 0.109 "speedup" unflagged);
    // per-lane probes would cost more than these sub-second lanes
    canaryPre("x_layout_scattered_sec", "x_layout_clustered_sec",
      "x_zorder_keyband_sec", "x_linear_partband_sec",
      "x_zorder_partband_sec")
    val tScanScattered = timeMedian("x_layout_scattered_sec")(bandScan(liScattered, "l_orderkey", kLo, kHi))
    val tScanClustered = timeMedian("x_layout_clustered_sec")(bandScan(liClustered, "l_orderkey", kLo, kHi))
    val tZorderKey = timeMedian("x_zorder_keyband_sec")(bandScan(liZorder, "l_orderkey", kLo, kHi))
    val tLinearPart = timeMedian("x_linear_partband_sec")(bandScan(liClustered, "l_partkey", pLo, pHi))
    val tZorderPart = timeMedian("x_zorder_partband_sec")(bandScan(liZorder, "l_partkey", pLo, pHi))
    canaryPost()
    // Hive-style directory partitioning by ship month: pruning happens at
    // PLANNING time from the directory listing (PartitionFilters — zero
    // footers read for excluded months), the coarse complement of the
    // row-group zone maps above. Same one-month retrieval against the
    // hash-scattered files must open every footer and decode every row
    // group's date column. Probed at 60 M rows (the li100 fixture): at
    // 6 M both sides sat at the ~0.1 s job-overhead floor and the probe
    // read as noise (a measured 0.87× "speedup" in one round).
    val liMonthPath = s"/tmp/graft_bench_li100_bymonth_$sfTag.parquet"
    if (!new java.io.File(liMonthPath, "_SUCCESS").exists()) {
      liScattered
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(col("ship_month"))
        .write.partitionBy("ship_month").mode("overwrite").parquet(liMonthPath)
    }
    val liMonth = spark.read.parquet(liMonthPath)
    def monthHash(df: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column): Unit =
      df.filter(cond).agg(count(lit(1)),
        sum(xxhash64(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
          .cast("decimal(38,0)"))).collect(): Unit
    canaryPre("x_hivepart_pruned_sec", "x_hivepart_scattered_sec")
    val tMonthPruned = timeMedian("x_hivepart_pruned_sec")(monthHash(liMonth,
      col("ship_month") === "1998-06"))
    val tMonthScattered = timeMedian("x_hivepart_scattered_sec")(monthHash(liScattered,
      col("l_shipdate") >= lit("1998-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-07-01").cast("timestamp")))
    canaryPost()
    // Parquet BLOOM-FILTER point-lookup probe at 60 M rows, on a SYNTHETIC
    // scattered 64-bit content key. The fixture's natural keys are DENSE
    // (1..150k, every in-range value exists somewhere — the first cut of
    // this probe timed a present key and measured nothing), so the probe
    // key is uid = xxhash64(row content): every row group spans the full
    // 64-bit domain (zone maps prune NOTHING) and a random value is absent
    // from EVERY file — the membership-check shape (decontamination id
    // probes, CDC lookups). The plain layout must decode the uid column in
    // every row group; the bloom layout rejects all of them from the
    // footer alone.
    val liUid = liScattered.withColumn("uid", xxhash64(
      col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
      col("l_extendedprice")))
    val liUidPlainPath = s"/tmp/graft_bench_li100_uidplain_$sfTag.parquet"
    val liUidBloomPath = s"/tmp/graft_bench_li100_uidbloom_$sfTag.parquet"
    if (!new java.io.File(liUidPlainPath, "_SUCCESS").exists()) {
      liUid.repartition(80).write.mode("overwrite").parquet(liUidPlainPath)
    }
    if (!new java.io.File(liUidBloomPath, "_SUCCESS").exists()) {
      graft.sources.Layout.bloomFilteredWrite(liUid, liUidBloomPath,
        Seq("uid"), files = 80, ndvPerFile = 800000L)
    }
    val liUidPlain = spark.read.parquet(liUidPlainPath)
    val liUidBloom = spark.read.parquet(liUidBloomPath)
    // find a VERIFIED-absent probe value once (untimed; also warms both
    // layouts' page cache evenly before the timed medians)
    val bloomAbsentKey = Iterator.iterate(1234567890123456789L)(_ + 9973L)
      .find(k => liUidPlain.filter(col("uid") === k).count() == 0L &&
        liUidBloom.filter(col("uid") === k).count() == 0L).get
    def pointLookup(df: org.apache.spark.sql.DataFrame): Unit =
      df.filter(col("uid") === bloomAbsentKey)
        .agg(count(lit(1)),
          sum(xxhash64(col("uid"), col("l_extendedprice"))
            .cast("decimal(38,0)")))
        .collect(): Unit
    canaryPre("x_bloom_plain_sec", "x_bloom_filtered_sec")
    val tBloomPlain = timeMedian("x_bloom_plain_sec")(pointLookup(liUidPlain))
    val tBloomFiltered = timeMedian("x_bloom_filtered_sec")(pointLookup(liUidBloom))
    canaryPost()
    // embedding near-dup over the full embeddings fixture: exercises the
    // native vec_dot codegen kernel (signature + verify) through the
    // multi-table LSH bucket-collect path
    val emb = Tables.embeddings(spark, sfDir)
    // embed + ANN lanes: one bracket across the group (the recall/bytes
    // computations interleaved between the timed lanes are untimed and
    // ride inside the same window)
    canaryPre("x_embed_neardup_sec", "x_ann_ivf_sec", "x_ann_ivf_int8_sec",
      "x_ann_index_build_sec", "x_ann_index_search_sec",
      "x_ann_index8_build_sec", "x_ann_index8_search_sec",
      "x_ann_index_maint_cycle_sec", "x_ann_index_retrain_sec")
    val tEmbedDedup = timeMedian("x_embed_neardup_sec") {
      graft.operators.Ann.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4).count(): Unit
    }
    // ANN accuracy probe: recall of the two scale paths vs exact brute
    // force on the same probes — the accuracy half of the ANN speed story
    // (specs pin recall floors on planted clusters; this measures it on
    // the real fixture each round)
    val annProbes = emb.filter(col("vec_id") < 10)
    def nnSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactNN = nnSet(graft.operators.Ann.bruteForceTopKFast(
      emb, annProbes, "vec_id", "embedding", 5))
    val ivfRecall = nnSet(graft.operators.Ann.ivfTopK(emb, annProbes,
      "vec_id", "embedding", k = 5, numCentroids = 32, nProbe = 8))
      .intersect(exactNN).size.toDouble / exactNN.size
    val lshRecall = nnSet(graft.operators.Ann.lshTopK(emb, annProbes,
      "vec_id", "embedding", k = 5, bitsPerTable = 6, numTables = 16,
      probeRadius = 1)).intersect(exactNN).size.toDouble / exactNN.size
    // int8-quantized IVF verify (q165): recall vs exact on the same
    // probes, wall-clock vs the float path, and the MEASURED exchange
    // width of a coded vs float candidate projection (one explicit
    // repartition shuffle each, task-level shuffleWrite bytes summed via
    // a listener — the 4×-narrower-candidate-rows claim as bytes)
    val ivf8Recall = nnSet(graft.operators.Ann.ivfTopKInt8(emb, annProbes,
      "vec_id", "embedding", k = 5, numCentroids = 32, nProbe = 8))
      .intersect(exactNN).size.toDouble / exactNN.size
    val tIvfFloat = timeMedian("x_ann_ivf_sec") {
      graft.operators.Ann.ivfTopK(emb, annProbes, "vec_id", "embedding",
        k = 5, numCentroids = 32, nProbe = 8).count(): Unit
    }
    val tIvfInt8 = timeMedian("x_ann_ivf_int8_sec") {
      graft.operators.Ann.ivfTopKInt8(emb, annProbes, "vec_id", "embedding",
        k = 5, numCentroids = 32, nProbe = 8).count(): Unit
    }
    // build-once/search-many amortization: ivfTopK retrains + rescans per
    // batch; the persisted index pays the build once and every search
    // after that reads only the probed lists (partition pruning)
    val ivfIndexPath = s"/tmp/graft_bench_ivfindex_$sfTag"
    val tIndexBuild = timeMedian("x_ann_index_build_sec") {
      graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding",
        ivfIndexPath, numCentroids = 32)
    }
    val tIndexSearch = timeMedian("x_ann_index_search_sec") {
      graft.operators.Ann.searchIvfIndex(spark, ivfIndexPath, annProbes,
        "vec_id", "embedding", k = 5, nProbe = 8).count(): Unit
    }
    // int8-coded index: same lists, byte codes instead of float vectors —
    // the candidate read is the probed fraction of a ~4×-smaller corpus,
    // so this is where the measured exchange shrink becomes real I/O
    val ivfIndex8Path = s"/tmp/graft_bench_ivfindex8_$sfTag"
    val tIndex8Build = timeMedian("x_ann_index8_build_sec") {
      graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding",
        ivfIndex8Path, numCentroids = 32, codec = "int8")
    }
    val tIndex8Search = timeMedian("x_ann_index8_search_sec") {
      graft.operators.Ann.searchIvfIndex(spark, ivfIndex8Path, annProbes,
        "vec_id", "embedding", k = 5, nProbe = 8).count(): Unit
    }
    def indexCorpusBytes(p: String): Double = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.startsWith("part-")) f.length() else 0L
      walk(new java.io.File(s"$p/corpus")).toDouble
    }
    val idxBytesFloat = indexCorpusBytes(ivfIndexPath)
    val idxBytesInt8 = indexCorpusBytes(ivfIndex8Path)
    // index maintenance cycle: delete a ~9% id slice (touched-list
    // anti-join rewrite) then upsert it back — the repeatable
    // takedown/recrawl unit. The ratio vs a full rebuild is the measured
    // claim behind deleteFromIvfIndex/upsertIntoIvfIndex: maintenance
    // must beat retraining + rewriting everything.
    val maintIds = emb.filter(pmod(col("vec_id"), lit(11L)) === 5)
    val tIndexMaint = timeMedian("x_ann_index_maint_cycle_sec") {
      graft.operators.Ann.deleteFromIvfIndex(spark, ivfIndexPath,
        maintIds.select(col("vec_id")), "vec_id"): Unit
      graft.operators.Ann.upsertIntoIvfIndex(
        maintIds.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", ivfIndexPath)
    }
    // atomic centroid retrain (full re-assignment by construction): the
    // honest claim is retrain ≈ one build minus the reset/centroid-dump
    // overhead — the drift-cadence op is priced like a rebuild of the
    // lists, amortized over the append/delete traffic between cadences
    val tIndexRetrain = timeMedian("x_ann_index_retrain_sec") {
      graft.operators.Ann.retrainIvfIndex(spark, ivfIndexPath): Unit
    }
    canaryPost()
    // the SCALE claim behind targeted deletes is bytes-rewritten ∝
    // touched lists, not local wall-clock (at fixture size every
    // maintenance shape is job-overhead-bound, and a UNIFORM id slice
    // touches every list by construction — recorded honestly above). A
    // clustered takedown touches few lists: measure the rewrite
    // fraction for a one-list delete directly from the layout.
    def dirBytes(p: String): Double = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.startsWith("part-")) f.length() else 0L
      walk(new java.io.File(p)).toDouble
    }
    val oneListBytes = dirBytes(s"$ivfIndexPath/corpus/cid=0").max(1.0)
    val allListsBytes = dirBytes(s"$ivfIndexPath/corpus").max(1.0)
    // bloom-staged discovery (round-10): a one-list id batch must resolve
    // its candidate lists from the footer-sized bloom sidecars instead of
    // a full (id, cid) scan — record the candidate fraction and the
    // sidecar weight so the at-scale claim stays measured, not asserted
    val (annDiscLists, annDiscTotal, annBloomFrac, annDiscExecLists) = {
      val meta = graft.operators.Ann.readManifest(spark, ivfIndexPath)
      val someCid = meta.gens.keysIterator.min
      val oneList = graft.operators.Ann
        .readIndexCorpus(spark, ivfIndexPath, Some(Seq(someCid)))
        .select(col("id")).localCheckpoint(true)
      val cand = graft.operators.Ann.bloomCandidateCids(spark, ivfIndexPath,
        meta.gens, oneList)
      // same discovery with driver-held blooms DISABLED (budget 0): the
      // executor-side probe must scope identically — the stamp behind the
      // "bounded at any index size" claim (round-11: no fallback to the
      // full scan past the driver budget)
      val candExec = graft.operators.Ann.bloomCandidateCids(spark,
        ivfIndexPath, meta.gens, oneList, driverBudgetBytes = 0L)
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      val bloomBytes = walk(new java.io.File(s"$ivfIndexPath/blooms"))
      (cand.map(_.size).getOrElse(-1).toDouble, meta.gens.size.toDouble,
        bloomBytes / allListsBytes, candExec.map(_.size).getOrElse(-1).toDouble)
    }
    // Shuffle-write bytes of the measured workload ONLY: accumulation is
    // scoped to the stages of jobs carrying our job group (concurrent or
    // straggling jobs from other probes can neither overcount nor
    // undercount it), and instead of a fixed sleep we poll until the async
    // listener bus has delivered the ends of all jobs the group started.
    def shuffledBytes(f: => Unit): Double = {
      val sc = spark.sparkContext
      val group = "graft-bytes-probe"
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val started = new java.util.concurrent.atomic.AtomicInteger(0)
      val ended = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(e.properties)
            .map(_.getProperty("spark.jobGroup.id")).orNull
          if (g == group) {
            started.incrementAndGet()
            e.stageIds.foreach(sid => { stages.add(sid); () })
          }
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          // job ids are not tracked per-group; count ends only up to the
          // group's started jobs (other jobs should not run concurrently,
          // but if one does, the stage filter still excludes its tasks)
          ended.incrementAndGet(); ()
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null && stages.contains(e.stageId)) {
            acc.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
          }
        }
      }
      sc.addSparkListener(l)
      sc.setJobGroup(group, "shuffled-bytes probe")
      try {
        f
        // drain: wait until job-end events cover the group's started jobs
        // and the byte counter has stopped moving
        var waited = 0
        while (ended.get < started.get && waited < 5000) {
          Thread.sleep(100); waited += 100
        }
        var prev = -1L
        var stable = 0
        while (stable < 3 && waited < 8000) {
          val cur = acc.get
          if (cur == prev) stable += 1 else stable = 0
          prev = cur
          Thread.sleep(100); waited += 100
        }
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(l)
      }
      acc.get.toDouble
    }
    // the post-exchange agg must CONSUME the payload (xxhash64 of it) or
    // column pruning drops the vector before the repartition and both
    // legs shuffle 8-byte ids — measured, not hypothetical
    val bytesFloatLeg = shuffledBytes {
      emb.select(col("vec_id"), col("embedding"))
        .repartition(32, col("vec_id"))
        .agg(sum(xxhash64(col("embedding")).cast("decimal(38,0)")))
        .collect(): Unit
    }
    val bytesCodedLeg = shuffledBytes {
      emb.select(col("vec_id"),
          graft.functions.VectorOps.int8Code(col("embedding")).as("code"))
        .repartition(32, col("vec_id"))
        .agg(sum(xxhash64(col("code")).cast("decimal(38,0)")))
        .collect(): Unit
    }
    // Bucketed co-located join probe: both sides bucketed+sorted on the
    // join key -> SortMergeJoin with ZERO exchanges and no sort, vs the
    // plain shuffle join (broadcast disabled for the probe so the exchange
    // cost is actually visible; at 100 TB the orders side is far past any
    // broadcast threshold and this IS the plan that matters).
    val orders = Tables.orders(spark, sfDir)
    canaryPre("x_join_plain_sec", "x_join_bucketed_sec")
    val (tJoinPlain, tJoinBucketed) = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // a fresh JVM has an empty in-memory catalog but the warehouse
        // DIRECTORY survives -> LOCATION_ALREADY_EXISTS unless cleared
        Seq("li_bucketed", "orders_bucketed").foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          val root = java.nio.file.Paths.get("/tmp/graft_bench_warehouse", t)
          if (java.nio.file.Files.exists(root)) {
            java.nio.file.Files.walk(root)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
          }
        }
        // repartition on the bucket key first -> exactly ONE file per
        // bucket, so the read preserves the sortBy order and the join
        // needs neither Exchange nor Sort (multi-file buckets would
        // force a re-sort and muddy the probe)
        li.repartition(16, col("l_orderkey"))
          .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable("li_bucketed")
        orders.repartition(16, col("o_orderkey"))
          .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable("orders_bucketed")
        def plainOnce(): Double = {
          val t0 = System.nanoTime()
          li.join(orders, col("l_orderkey") === col("o_orderkey"))
            .agg(count(lit(1))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        def bucketedOnce(): Double = {
          val t0 = System.nanoTime()
          spark.table("li_bucketed")
            .join(spark.table("orders_bucketed"),
              col("l_orderkey") === col("o_orderkey"))
            .agg(count(lit(1))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        // interleave the two sides (warmup pair + 5 timed pairs) so
        // external-load drift hits both equally and the RATIO stays honest
        plainOnce(); bucketedOnce()
        val pairs = Seq.fill(5)((plainOnce(), bucketedOnce()))
        val med = (xs: Seq[Double]) => xs.sorted.apply(xs.size / 2)
        // interleaved machinery, not stableMedian — register conf-scoped
        // thunks so a canary-flagged lane has a redemption path that
        // measures the SAME no-broadcast plan (round-14)
        probeOnce("x_join_plain_sec") = () => noBroadcast(plainOnce())
        probeOnce("x_join_bucketed_sec") = () => noBroadcast(bucketedOnce())
        (med(pairs.map(_._1)), med(pairs.map(_._2)))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    canaryPost()
    // Universe-join-sampling probe: sampling THROUGH the join. Both sides
    // filtered to the same 10% hash band of the join key (JoinSampling) —
    // the one sampling design whose joined SUM is unbiased at ×10 — vs
    // the exact join at 6 M × 150 k. Broadcast disabled like the bucketed
    // probe: at 100 TB both legs shuffle, and that is what the band
    // predicate shrinks 10× on BOTH sides (an independent per-row design
    // could thin only one side without bias). Interleaved pairs so load
    // drift hits both equally.
    canaryPre("x_unijoin_exact_sec", "x_unijoin_sampled_sec")
    val (tUniExact, tUniSampled, uniAccPct) = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val ordSel = orders.select(col("o_orderkey"), col("o_orderpriority"))
        val us = graft.operators.JoinSampling.universeSample(
          li10f, col("l_orderkey"), ordSel, col("o_orderkey"))
        def sumOf(l: org.apache.spark.sql.DataFrame,
            r: org.apache.spark.sql.DataFrame, scale: Double): Double =
          l.join(r, col("l_orderkey") === col("o_orderkey"))
            .agg((sum(col("l_extendedprice")) * lit(scale)).as("s"))
            .first.getDouble(0)
        def exactOnce(): Double = {
          val t0 = System.nanoTime(); sumOf(li10f, ordSel, 1.0)
          (System.nanoTime() - t0) / 1e9
        }
        def sampledOnce(): Double = {
          val t0 = System.nanoTime(); sumOf(us.left, us.right, us.scaleFactor)
          (System.nanoTime() - t0) / 1e9
        }
        exactOnce(); sampledOnce()
        val pairs = Seq.fill(5)((exactOnce(), sampledOnce()))
        val med = (xs: Seq[Double]) => xs.sorted.apply(xs.size / 2)
        val exactV = sumOf(li10f, ordSel, 1.0)
        val estV = sumOf(us.left, us.right, us.scaleFactor)
        // conf-scoped redemption thunks — same reason as unijoin60
        probeOnce("x_unijoin_exact_sec") = () => noBroadcast(exactOnce())
        probeOnce("x_unijoin_sampled_sec") = () => noBroadcast(sampledOnce())
        (med(pairs.map(_._1)), med(pairs.map(_._2)),
          100.0 * (1.0 - math.abs(estV - exactV) / exactV))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    canaryPost()
    // Priority-sampling probe: the top-(k+1)-by-priority selection as
    // TakeOrderedAndProject (per-partition bounded heaps — what
    // Sampling.prioritySample emits) vs the naive expression of the same
    // semantics as a global row_number window (single-partition sort of
    // the whole table — the plan that dies first at 100 TB). Both branches
    // read the SAME 600 k-row frame (`li`) so the ratio isolates the
    // plan-shape difference, not a data-volume difference.
    canaryPre("x_priority_topk_sec", "x_priority_sort_sec")
    val (tPrioTopk, tPrioSort) = {
      val pw = col("l_extendedprice")
      def topkOnce(): Double = {
        val t0 = System.nanoTime()
        graft.exec.Sampling.prioritySample(li, key, pw, k = 500).collect()
        (System.nanoTime() - t0) / 1e9
      }
      def sortOnce(): Double = {
        import org.apache.spark.sql.expressions.Window
        val m = 1000003L
        val h = pmod(pmod(col("ps_key"), lit(m)) * lit(1299709L) +
          lit(104729L), lit(m)) + lit(1L)
        val t0 = System.nanoTime()
        li.select(key.as("ps_key"), pw.cast("double").as("ps_w"))
          .withColumn("ps_prio", col("ps_w") * lit(m.toDouble) / h)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("ps_prio").desc, col("ps_key").asc)))
          .filter(col("rn") <= 501).collect()
        (System.nanoTime() - t0) / 1e9
      }
      topkOnce(); sortOnce()
      val pairs = Seq.fill(3)((topkOnce(), sortOnce()))
      val med = (xs: Seq[Double]) => xs.sorted.apply(xs.size / 2)
      // interleaved machinery, not stableMedian — register the thunks so
      // a canary-flagged lane can still be redeemed at end of run
      probeOnce("x_priority_topk_sec") = () => topkOnce()
      probeOnce("x_priority_sort_sec") = () => sortOnce()
      (med(pairs.map(_._1)), med(pairs.map(_._2)))
    }
    canaryPost()
    // The same priority fight at 60 M rows — the scale where the naive
    // global-window twin was EXPECTED to die in a single-partition sort.
    // Two findings get separated: (a) the FAIR fight — Spark 4's
    // InferWindowGroupLimit rewrites the window twin into per-partition
    // top-(k+1) pre-filters before the final sort, i.e. it recovers
    // prioritySample's plan shape automatically, so the measured edge
    // should stay ≈1× even at 60 M (this retires the round-4 "plan that
    // dies" claim ON SPARK 4 — see PLANS.md); (b) the demonstration —
    // the identical query with that rule EXCLUDED is the plan every
    // pre-3.5 engine runs, single-partition-sorting all 60 M rows. One
    // run for the demo leg (it is the point, not the fight).
    // the nolimit DEMO leg is deliberately outside the bracket: it is a
    // one-shot (~2 min single run of a deliberately-terrible plan) whose
    // value supports a qualitative claim — the excluded-rule plan dies at
    // 60 M rows — that no host dip can flip (112 s vs ~0.5 s); bracketing
    // it without a redemption thunk would leave it permanently dirty when
    // flagged, and a 3-run redemption batch would cost ~6 min for nothing
    // (round-13 ADVICE)
    canaryPre("x_priority60_topk_sec", "x_priority60_sort_sec")
    val (tPrio60Topk, tPrio60Sort, tPrio60SortNoLimit) = {
      import org.apache.spark.sql.expressions.Window
      val pw = col("l_extendedprice")
      val m = 1000003L
      val h = pmod(pmod(col("ps_key"), lit(m)) * lit(1299709L) +
        lit(104729L), lit(m)) + lit(1L)
      def topkOnce(): Double = {
        val t0 = System.nanoTime()
        graft.exec.Sampling.prioritySample(liScattered, key, pw, k = 500)
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      def sortOnce(): Double = {
        val t0 = System.nanoTime()
        liScattered.select(key.as("ps_key"), pw.cast("double").as("ps_w"))
          .withColumn("ps_prio", col("ps_w") * lit(m.toDouble) / h)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("ps_prio").desc, col("ps_key").asc)))
          .filter(col("rn") <= 501).collect()
        (System.nanoTime() - t0) / 1e9
      }
      topkOnce(); sortOnce()
      val pairs = Seq.fill(3)((topkOnce(), sortOnce()))
      val med = (xs: Seq[Double]) => xs.sorted.apply(xs.size / 2)
      probeOnce("x_priority60_topk_sec") = () => topkOnce()
      probeOnce("x_priority60_sort_sec") = () => sortOnce()
      val noLimit = {
        val saved = spark.conf.getOption("spark.sql.optimizer.excludedRules")
        spark.conf.set("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
        try sortOnce()
        finally saved match {
          case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
          case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
        }
      }
      (med(pairs.map(_._1)), med(pairs.map(_._2)), noLimit)
    }
    canaryPost()
    // The same universe probe at 60 M fact rows: at 6 M the join is
    // scan-bound and the band filter shows ~1.3×; here the shuffle legs
    // dominate (60 M rows exchanged vs 6 M), which is the regime 100 TB
    // lives in — the measured speedup should widen toward the volume
    // ratio as scan cost amortizes. 3 interleaved pairs (each exact run
    // shuffles 60 M rows; the ratio, not the absolute, is the result).
    canaryPre("x_unijoin60_exact_sec", "x_unijoin60_sampled_sec")
    val (tUni60Exact, tUni60Sampled) = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val ordSel = orders.select(col("o_orderkey"), col("o_orderpriority"))
        val us = graft.operators.JoinSampling.universeSample(
          liScattered, col("l_orderkey"), ordSel, col("o_orderkey"))
        def sumOf(l: org.apache.spark.sql.DataFrame,
            r: org.apache.spark.sql.DataFrame, scale: Double): Double =
          l.join(r, col("l_orderkey") === col("o_orderkey"))
            .agg((sum(col("l_extendedprice")) * lit(scale)).as("s"))
            .first.getDouble(0)
        // each leg through the full stableMedian self-defense (spread
        // rerun + co-load sleep + dirty stamp): the exact leg shuffles
        // 60 M rows and its plain median-of-3 swung 1.12–7.58× across
        // otherwise-clean r9 runs (round-9 verdict item 8)
        val ex = timeMedian("x_unijoin60_exact_sec") {
          sumOf(liScattered, ordSel, 1.0): Unit
        }
        val sa = timeMedian("x_unijoin60_sampled_sec") {
          sumOf(us.left, us.right, us.scaleFactor): Unit
        }
        // end-of-run redemption runs OUTSIDE this block's conf scope:
        // re-register the thunks with the no-broadcast context or a
        // redeemed value measures a broadcast join where the lane
        // measures a shuffle join (r13 run 1 stamped 0.42 s for the
        // 60 M-row shuffle lane that way)
        probeOnce("x_unijoin60_exact_sec") = () => noBroadcast {
          val t0 = System.nanoTime()
          sumOf(liScattered, ordSel, 1.0): Unit
          (System.nanoTime() - t0) / 1e9
        }
        probeOnce("x_unijoin60_sampled_sec") = () => noBroadcast {
          val t0 = System.nanoTime()
          sumOf(us.left, us.right, us.scaleFactor): Unit
          (System.nanoTime() - t0) / 1e9
        }
        (ex, sa)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    canaryPost()
    // Skew probe at 6 M rows: ~30% of fact rows forced onto ONE supplier
    // key, broadcast disabled (at 100 TB the build side may be too big to
    // broadcast and the hot key pins a reducer). Measures the plain
    // shuffle join (AQE's skew-split gets its honest shot — it only helps
    // when the skewed partition exceeds its size thresholds) against
    // Skew.saltedJoin's 8-way content-hash scatter of the same join.
    canaryPre("x_skew_plain_sec", "x_skew_salted_sec")
    val (tSkewPlain, tSkewSalted) = {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val skewedFact = li10f.select(
          when(pmod(key, lit(10L)) < 3, lit(1L)).otherwise(col("l_suppkey"))
            .as("l_suppkey"),
          col("l_extendedprice"))
        val buildSide = Tables.supplier(spark, sfDir)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        def agged(j: org.apache.spark.sql.DataFrame) = j
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)), sum(col("l_extendedprice")))
        val plain = timeMedian("x_skew_plain_sec") {
          agged(skewedFact.join(buildSide, "l_suppkey")).collect(): Unit
        }
        val salted = timeMedian("x_skew_salted_sec") {
          agged(graft.operators.Skew.saltedJoin(skewedFact, buildSide,
            "l_suppkey", salts = 8)).collect(): Unit
        }
        // conf-scoped redemption thunks — same reason as unijoin60
        probeOnce("x_skew_plain_sec") = () => noBroadcast {
          val t0 = System.nanoTime()
          agged(skewedFact.join(buildSide, "l_suppkey")).collect(): Unit
          (System.nanoTime() - t0) / 1e9
        }
        probeOnce("x_skew_salted_sec") = () => noBroadcast {
          val t0 = System.nanoTime()
          agged(graft.operators.Skew.saltedJoin(skewedFact, buildSide,
            "l_suppkey", salts = 8)).collect(): Unit
          (System.nanoTime() - t0) / 1e9
        }
        (plain, salted)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    canaryPost()
    // argmax-vs-window probe at 6 M rows: latest-per-supplier via the
    // window sort (shuffles + sorts every row) vs max(struct(...))
    // aggregation (partial agg ships one candidate per task×key). The
    // ratio is the q97 scale story, measured.
    val argmaxIn = li10f.select(col("l_suppkey"), col("l_extendedprice"),
      col("l_orderkey"), col("l_linenumber"))
    canaryPre("x_argmax_window_sec", "x_argmax_agg_sec", "x_argmax_join_sec")
    val tLatestWindow = timeMedian("x_argmax_window_sec") {
      graft.operators.Packing.latestPerKey(argmaxIn, Seq("l_suppkey"),
          Seq("l_extendedprice", "l_orderkey", "l_linenumber"))
        .agg(count(lit(1))).collect(): Unit
    }
    val tLatestAgg = timeMedian("x_argmax_agg_sec") {
      graft.operators.Packing.argmaxPerKey(argmaxIn, Seq("l_suppkey"),
          Seq("l_extendedprice", "l_orderkey", "l_linenumber"), Nil)
        .agg(count(lit(1))).collect(): Unit
    }
    // broadcast-join argmax: hash-agg per-key max (no sort), broadcast it
    // back, tie-break only the survivors — zero full-data shuffle/sort.
    // broadcastMaxes on: l_suppkey cardinality is known-bounded here,
    // which is the opt-in's contract (default AQE path pays the fact's
    // local map-write before converting — measured 0.21× vs window)
    val tLatestJoin = timeMedian("x_argmax_join_sec") {
      graft.operators.Packing.argmaxViaJoin(argmaxIn, Seq("l_suppkey"),
          "l_extendedprice", Seq("l_orderkey", "l_linenumber"),
          broadcastMaxes = true)
        .agg(count(lit(1))).collect(): Unit
    }
    canaryPost()
    // Approx-mode rewrite probe: the same COUNT(DISTINCT) SQL text, exact
    // vs plan-rewritten to HLL (ApproxAggregateRewrite, attached here via
    // experimental.extraOptimizations — same rule object the extension
    // injects; getOrCreate would hand back this session and silently skip
    // spark.sql.extensions). The exact plan Expands + double-shuffles
    // every distinct value; the sketch plan shuffles one few-KB buffer
    // per partition — the gap grows with distinct cardinality, which at
    // 100 TB is the whole game.
    val (tCdExact, tCdApprox, cdErrPct, tCdHiExact, tCdHiApprox) = {
      Tables.registerAll(spark, sfDir)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.ApproxAggregateRewrite
      val q = "SELECT COUNT(DISTINCT l_partkey) AS d FROM lineitem"
      // high-cardinality leg: every (orderkey, linenumber) is distinct, so
      // the exact plan shuffles ~|table| values twice while the sketch
      // plan shuffles one few-KB buffer per partition — THIS is the gap
      // the rewrite exists for; the l_partkey leg (~200k distinct at
      // sf0.1) measures the low-cardinality wash where both plans are
      // overhead-bound and the rewrite honestly buys nothing locally
      val qHi = "SELECT COUNT(DISTINCT l_orderkey * 8 + l_linenumber) " +
        "AS d FROM lineitem"
      canaryPre("x_cd_exact_sec", "x_cd_hicard_exact_sec",
        "x_cd_hll_sec", "x_cd_hicard_hll_sec")
      spark.conf.set("spark.graft.approx.countDistinct.enabled", "false")
      val exactV = spark.sql(q).first.getLong(0)
      val tEx = timeMedian("x_cd_exact_sec") { spark.sql(q).collect(): Unit }
      val tHiEx = timeMedian("x_cd_hicard_exact_sec") { spark.sql(qHi).collect(): Unit }
      spark.conf.set("spark.graft.approx.countDistinct.enabled", "true")
      val apxV = spark.sql(q).first.getLong(0)
      val tAp = timeMedian("x_cd_hll_sec") { spark.sql(q).collect(): Unit }
      val tHiAp = timeMedian("x_cd_hicard_hll_sec") { spark.sql(qHi).collect(): Unit }
      spark.conf.set("spark.graft.approx.countDistinct.enabled", "false")
      canaryPost()
      // conf-scoped redemption thunks: these lanes measure under a
      // per-leg toggle that end-of-run redemption would not see — the
      // HLL lanes would redeem against the EXACT plan (and vice versa),
      // the unijoin60-0.49 failure class with the sign flipped
      def cdScoped(enabled: Boolean, sql: String): () => Double = () => {
        val k = "spark.graft.approx.countDistinct.enabled"
        val savedCd = spark.conf.get(k)
        spark.conf.set(k, enabled.toString)
        try {
          val t0 = System.nanoTime()
          spark.sql(sql).collect(): Unit
          (System.nanoTime() - t0) / 1e9
        } finally spark.conf.set(k, savedCd)
      }
      probeOnce("x_cd_exact_sec") = cdScoped(enabled = false, q)
      probeOnce("x_cd_hicard_exact_sec") = cdScoped(enabled = false, qHi)
      probeOnce("x_cd_hll_sec") = cdScoped(enabled = true, q)
      probeOnce("x_cd_hicard_hll_sec") = cdScoped(enabled = true, qHi)
      (tEx, tAp, 100.0 * math.abs(apxV - exactV).toDouble / exactV,
        tHiEx, tHiAp)
    }
    // End-to-end curation probe: the full pipeline (exact dedup →
    // MinHash near-dedup → decontaminate → quality gate → mix → split)
    // over the whole documents fixture — the composite workload a
    // training-data run actually executes, timed as one number so a
    // regression in ANY stage moves it.
    val docsAll = Tables.documents(spark, sfDir)
    val evalSet = docsAll.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(col("doc_id"), col("text"))
    canaryPre("x_pipeline_sec")
    val tPipeline = timeMedian("x_pipeline_sec") {
      graft.operators.CurationPipeline.run(docsAll, Some(evalSet),
        "doc_id", "text", "source",
        graft.operators.CurationPipeline.Config(minQuality = 0.2,
          modelFilterMinMarginCents = Some(-1000L)))
        .agg(count(lit(1))).collect(): Unit
    }
    canaryPost()
    // per-stage attribution for the same flow (one staged run: each stage
    // persisted + counted, so a regression in x_pipeline_sec is traceable
    // to a stage; stages sum to ≈ the fused total + materialization cost)
    val (_, pipelineStages) = graft.operators.CurationPipeline.runStaged(
      docsAll, Some(evalSet), "doc_id", "text", "source",
      graft.operators.CurationPipeline.Config(minQuality = 0.2,
          modelFilterMinMarginCents = Some(-1000L)))
    // Streaming-curation state-store decay probe (round-7 verdict item 3):
    // the crash-safe layout writes one batch=<id> delta dir per
    // micro-batch, so after many batches every state read pays listing +
    // one parquet footer per delta. Time the EXACT read pattern
    // readState issues (union all deltas except current, explicit
    // schema) against 50 deltas, then compactState folds them into one
    // snapshot and the same read repeats — the ratio is the small-files
    // decay the compaction removes, measured, not asserted.
    val statePath = s"/tmp/graft_bench_statedecay_$sfTag"
    val stateDir = new java.io.File(statePath)
    if (stateDir.exists()) {
      java.nio.file.Files.walk(stateDir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val fpChunk = docsAll.select(
      xxhash64(col("text")).as("fp"), pmod(col("doc_id"), lit(50L)).as("b"))
    (0 until 50).foreach(i => fpChunk.filter(col("b") === i).select(col("fp"))
      .coalesce(1).write.parquet(s"$statePath/fingerprints/batch=$i"))
    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType)))
    def stateReadAt(p: String): Unit = spark.read.schema(stateSchema)
      .parquet(s"$p/fingerprints")
      .filter(col("batch") =!= lit(50L))
      .agg(count(col("fp"))).collect(): Unit
    def stateRead(): Unit = stateReadAt(statePath)
    canaryPre("x_state_read_50deltas_sec", "x_state_read_compacted_sec")
    val tState50 = timeMedian("x_state_read_50deltas_sec") { stateRead() }
    // compactState is a ONE-WAY mutation of the live dir — keep a byte
    // copy of the 50-delta layout so a flagged 50-delta lane still has a
    // redemption path that measures the same small-files shape (without
    // it the lane would redeem against the COMPACTED layout: too-fast,
    // the unijoin60-0.49 class)
    val statePreCompact = statePath + "_precompact"
    locally {
      val src = java.nio.file.Paths.get(statePath)
      val dst = java.nio.file.Paths.get(statePreCompact)
      if (java.nio.file.Files.exists(dst)) {
        java.nio.file.Files.walk(dst)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t): Unit
        else java.nio.file.Files.copy(p, t): Unit
      }
    }
    probeOnce("x_state_read_50deltas_sec") = () => {
      val t0 = System.nanoTime()
      stateReadAt(statePreCompact)
      (System.nanoTime() - t0) / 1e9
    }
    graft.streaming.StreamingCuration.compactState(spark, statePath,
      upToBatch = 50L)
    val tStateCompacted = timeMedian("x_state_read_compacted_sec") {
      stateRead()
    }
    canaryPost()
    // Storage-pressure stamp for the dedup10x lanes (round-12 root-cause
    // instrumentation): cached RDD blocks/bytes accumulated by the
    // preceding lanes' localCheckpoints at the moment the heaviest dedup
    // fixture starts. Round 11's never-released ANN staging checkpoints
    // (and every probe frame awaiting ContextCleaner) pile up here — the
    // suspected GC/memory pressure behind the uniform ~+45% elevation of
    // every dedup10x stage while the x10 canary barely moved.
    val cachedPre10x = spark.sparkContext.getRDDStorageInfo
    val xCachedBlocksPre10x = cachedPre10x.map(_.numCachedPartitions).sum
    val xCachedMemMbPre10x =
      cachedPre10x.map(_.memSize).sum / 1e6 +
        cachedPre10x.map(_.diskSize).sum / 1e6
    // Dedup scale probe: 10× the documents fixture with remapped ids —
    // every doc gains 10 near-identical copies, the adversarial case for
    // candidate generation (each cluster of 10 yields 45 candidate pairs).
    // Catches driver-side or skew cliffs the base fixture cannot show.
    val docs10 = (0 until 10).map(i => docsAll.select(
        (col("doc_id") * 16 + lit(i)).as("doc_id"), col("text"),
        col("source")))
      .reduce(_ union _)
    val nDocs10 = docs10.count()
    canaryPre("x_dedup10x_neardup_sec", "x_dedup10x_cands_sec",
      "x_dedup10x_pairs_sec", "x_dedup10x_dupngram_sec",
      "x_dedup10x_segdedup_sec", "x_dedup10x_segdedup_hashed_sec")
    val tDedup10Near = timeMedian("x_dedup10x_neardup_sec") {
      graft.operators.Dedup.dropNearDups(docs10, "doc_id", "text",
          threshold = 0.8)
        .agg(count(lit(1))).collect(): Unit
    }
    // per-stage stamps INSIDE the same flow (round-7 verdict item 2: the
    // whole-path median drifted 16.6→22.9 s while every component moved
    // the other way — the probe measured stages the components don't).
    // One staged run, each stage materialized: pairs (mine+verify),
    // clusters (label propagation), anti (losers anti-join + count).
    // stage_total ≈ the fused median + materialization overhead, so any
    // future drift names its stage.
    val (_, dedup10Stages) = graft.operators.Dedup.dropNearDupsStaged(
      docs10, "doc_id", "text", threshold = 0.8)
    // stage attribution for the near-dup flow on the same fixture:
    // candidates (bands + bucket-collect) alone, then +verify (pairs),
    // with the full-path median above completing clusters + anti-join —
    // the deltas locate a regression in the heaviest probe to a stage
    val tDedup10Cands = timeMedian("x_dedup10x_cands_sec") {
      graft.operators.Dedup.lshCandidatePairs(docs10, "doc_id", "text")
        .count(): Unit
    }
    val tDedup10Pairs = timeMedian("x_dedup10x_pairs_sec") {
      graft.operators.Dedup.nearDupPairs(docs10, "doc_id", "text",
        threshold = 0.8).count(): Unit
    }
    val tDedup10Gram = timeMedian("x_dedup10x_dupngram_sec") {
      graft.operators.Dedup.dupNgramStats(docs10, "doc_id", "text", n = 3)
        .agg(count(lit(1)), sum(col("n_dup"))).collect(): Unit
    }
    // segment-level dedup on the same 10× fixture: every segment sits in a
    // 10-clique, the worst case for the first-occurrence aggregate
    val tDedup10Seg = timeMedian("x_dedup10x_segdedup_sec") {
      graft.operators.Dedup.segmentDedup(docs10, "doc_id", "text",
          segmentWords = 8)
        .agg(count(lit(1)), sum(col("n_kept"))).collect(): Unit
    }
    // hashed-key variant: the agg/join exchanges key on xxhash64(segment)
    // (16-byte rows) instead of the raw segment string — the 100 TB form
    // the scaladoc documents, probed on the same fixture
    val tDedup10SegHashed = timeMedian("x_dedup10x_segdedup_hashed_sec") {
      graft.operators.Dedup.segmentDedup(docs10, "doc_id", "text",
          segmentWords = 8, hashedKeys = true)
        .agg(count(lit(1)), sum(col("n_kept"))).collect(): Unit
    }
    canaryPost()
    // q35's MinHash pair mining on the 10× fixture — the scale trend for
    // the most expensive gated near-dup query (companion to x_unijoin60's
    // join trend): candidate density grows ∝ clique size², so this is the
    // adversarial-but-honest growth curve, not a regression alarm
    canaryPre("x_q35_10x_sec")
    val tQ35at10x = timeMedian("x_q35_10x_sec") {
      graft.operators.Dedup.nearDupPairs(docs10, "doc_id", "text",
        threshold = 0.8).count(): Unit
    }
    canaryPost()
    // Reliable-checkpoint route at bench scale (round-13 verdict item 4):
    // the same nearDupPairs flow on the 10× corpus with every staging
    // site routed to file-backed checkpoint() instead of
    // localCheckpoint(true) — the 100 TB fault-tolerance posture priced
    // as a measured ratio against x_dedup10x_pairs_sec, not argued from
    // frame sizes. The checkpoint dir is wiped before every timed run
    // (reliable files are cleaned by ContextCleaner only under a
    // non-default conf, and release() no-ops on the reliable route by
    // design) so accumulation never rides inside a later measurement.
    val relCkptDir = s"/tmp/graft_bench_relckpt_$sfTag"
    def reliablePairsOnce(): Double = {
      val dir = java.nio.file.Paths.get(relCkptDir)
      if (java.nio.file.Files.exists(dir)) {
        java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
      val savedDir = spark.sparkContext.getCheckpointDir
      spark.sparkContext.setCheckpointDir(relCkptDir)
      spark.conf.set(graft.Checkpoints.ReliableConf, "true")
      try {
        val t0 = System.nanoTime()
        graft.operators.Dedup.nearDupPairs(docs10, "doc_id", "text",
          threshold = 0.8).count(): Unit
        (System.nanoTime() - t0) / 1e9
      } finally {
        spark.conf.unset(graft.Checkpoints.ReliableConf)
        savedDir.foreach(spark.sparkContext.setCheckpointDir)
      }
    }
    canaryPre("x_reliable_ckpt_pairs_sec")
    val tReliablePairs = {
      reliablePairsOnce() // warmup
      stableMedian("x_reliable_ckpt_pairs_sec", () => reliablePairsOnce())
    }
    canaryPost()
    // Size-ratio pre-prune probe, in the regime the prune EXISTS for
    // (round-10 verdict item 3: the first fixture — short docs, twins at
    // 1/3 length colliding w.p. ~18% — stamped the prune net-NEGATIVE in
    // bytes 13 runs straight, refuting its own comment; the costs are
    // O(candidate rows · 16 B) while the savings are O(refuted docs ·
    // array bytes), and that fixture made the former dominate). The win
    // regime needs (a) LONG docs — arrays ≫ candidate-row bytes — and
    // (b) cross-size candidates that are COMMON and all refutable:
    //  - every doc is lengthened 8× with per-copy word salts (distinct
    //    shingles ×8, hash arrays in the kilobytes);
    //  - every doc gains a 70%-prefix twin: J ≈ 0.7 < 0.8 stays below
    //    the verify threshold but collides in some LSH band w.p.
    //    ≈ 1−(1−0.7⁴)¹⁶ ≈ 99% — so nearly every twin becomes a
    //    candidate, every such pair is refuted by the size bound
    //    (0.7 < 0.8) alone, and the refuted twins' kilobyte arrays stay
    //    off both verify exchanges entirely.
    val docsHet = {
      val longText = concat_ws(" ", (0 until 8).map(i =>
        regexp_replace(col("text"), "(\\S+)", "$1_" + i)): _*)
      val base = docsAll.select(col("doc_id"), longText.as("text"))
      base.unionAll(
        base.select((col("doc_id") + lit(100000000L)).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), lit(1),
            greatest(lit(1), size(split(col("text"), " ")) * 7 / 10)))
            .as("text")))
    }
    canaryPre("x_sizeprune_off_sec", "x_sizeprune_on_sec")
    val tSizePruneOff = timeMedian("x_sizeprune_off_sec") {
      graft.operators.Dedup.nearDupPairs(docsHet, "doc_id", "text",
        threshold = 0.8, sizePrune = false).count(): Unit
    }
    val tSizePruneOn = timeMedian("x_sizeprune_on_sec") {
      graft.operators.Dedup.nearDupPairs(docsHet, "doc_id", "text",
        threshold = 0.8, sizePrune = true).count(): Unit
    }
    canaryPost()
    // The prune's real currency is exchange BYTES in the regime where the
    // verify joins are SORT-MERGE — at fixture scale the candidate side
    // broadcasts and the hash arrays never enter a shuffle at all (first
    // cut of this probe measured the prune ADDING bytes: its own sizes
    // joins, with nothing to save). Forcing broadcast off emulates the
    // 100 TB shape (candidate pair lists far beyond broadcast), where the
    // arrays ride both verify exchanges and the prune's refuted pairs
    // (and fully-refuted docs) stay off the wire.
    val (bytesSizePruneOff, bytesSizePruneOn) = {
      val abtOld = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqeOld = spark.conf.getOption(
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val off = shuffledBytes {
          graft.operators.Dedup.nearDupPairs(docsHet, "doc_id", "text",
            threshold = 0.8, sizePrune = false).count(): Unit
        }
        val on = shuffledBytes {
          graft.operators.Dedup.nearDupPairs(docsHet, "doc_id", "text",
            threshold = 0.8, sizePrune = true).count(): Unit
        }
        (off, on)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtOld)
        aqeOld match {
          case Some(v) => spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset(
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
        }
      }
    }
    // Exact duplicated-span removal over the full documents fixture —
    // the q180 workload as a wall-clock trend line (gram vocab exchange +
    // broadcast dup set + per-doc reassembly)
    canaryPre("x_spandedup_sec", "x_spandedup10x_sec", "x_winnow_sec",
      "x_pipeline_withspan_sec")
    val tSpanDedup = timeMedian("x_spandedup_sec") {
      graft.operators.Dedup.removeDuplicatedSpans(docsAll, "doc_id", "text",
          k = 8)
        .agg(sum(col("n_removed")), count(lit(1))).collect(): Unit
    }
    // ...and its adversarial worst case: on the 10× clique fixture EVERY
    // gram is duplicated, so the coverage stage explodes and distincts
    // the full token stream (the remove-all upper bound — nothing can be
    // pruned). Guards against a skew/volume cliff in the covered-position
    // machinery that the mostly-unique fixture above cannot show.
    val tSpanDedup10 = timeMedian("x_spandedup10x_sec") {
      graft.operators.Dedup.removeDuplicatedSpans(docs10, "doc_id", "text",
          k = 8)
        .agg(sum(col("n_removed")), count(lit(1))).collect(): Unit
    }
    // Winnowing partial-overlap mining (q186's workload): fused sketch
    // kernel + fingerprint bucket pairing over the full fixture
    val tWinnow = timeMedian("x_winnow_sec") {
      graft.operators.Dedup.winnowOverlapPairs(docsAll, "doc_id", "text",
        k = 4, w = 8, minShared = 2).count(): Unit
    }
    // The curation pipeline WITH the span stage on — a separate metric so
    // x_pipeline_sec stays comparable round-over-round; the delta prices
    // the ExactSubstr stage inside the composite flow
    val tPipelineSpan = timeMedian("x_pipeline_withspan_sec") {
      graft.operators.CurationPipeline.run(docsAll, Some(evalSet),
        "doc_id", "text", "source",
        graft.operators.CurationPipeline.Config(minQuality = 0.2,
          modelFilterMinMarginCents = Some(-1000L), spanDedupK = Some(8)))
        .agg(count(lit(1))).collect(): Unit
    }
    canaryPost()
    // q20's star-join plan at 60 M fact rows (the li100 fixture): pruned
    // dims broadcast, fact scans once into partial agg — the scale trend
    // for the most expensive gated join query
    canaryPre("x_q20_60m_sec")
    val tQ20at60m = {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val cust = Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))
      timeMedian("x_q20_60m_sec") {
        liScattered
          .join(orders.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(rev.cast("decimal(18,4)")), count(lit(1)))
          .collect(): Unit
      }
    }
    canaryPost()
    // Poisson-bootstrap overhead: B = 50 replica sums in the same scan vs
    // the single scaled sum over the same systematic sample — the honest
    // price of a bootstrap CI in the one-pass formulation (should be a
    // small multiple, nowhere near 50×; the alternative B-resample design
    // would be)
    canaryPre("x_bootstrap_plain_sec", "x_bootstrap_sec")
    val tPlainSum = timeMedian("x_bootstrap_plain_sec") {
      li.filter(pmod(Tables.lineitemKey.column, lit(10L)) === 0)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))).collect(): Unit
    }
    val tBootstrap = timeMedian("x_bootstrap_sec") {
      graft.exec.Bootstrap.bootstrapSumCi(li,
        col("l_extendedprice").cast("decimal(18,2)"), Tables.lineitemKey.column, step = 10L,
        replicas = 50).collect(): Unit
    }
    canaryPost()
    // COLD-cache layout probes (round-5 item: the z-order ratio flipped
    // 32.7× → 3.6× purely from page-cache warmth — record both regimes so
    // that flip never needs re-explaining). Cold = page cache dropped via
    // /proc/sys/vm/drop_caches (root-only; -1 when unavailable) before
    // EVERY timed run, so each read decodes from disk like a first-touch
    // 100 TB scan. Placed LAST among the timed probes: the drop evicts
    // every fixture and would slow (and destabilize) anything after it.
    val dropCachesOk: Boolean =
      try {
        new ProcessBuilder("sync").start().waitFor()
        val w = new java.io.FileWriter("/proc/sys/vm/drop_caches")
        w.write("1"); w.close(); true
      } catch { case _: Throwable => false }
    def coldMedian(name: String)(f: => Unit): Double =
      if (!dropCachesOk) -1.0
      else stableMedian(name, { () =>
        new ProcessBuilder("sync").start().waitFor()
        val w = new java.io.FileWriter("/proc/sys/vm/drop_caches")
        w.write("1"); w.close()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
    // bracket only when the cold lanes actually run (coldMedian returns
    // -1 without registering a thunk when drop_caches is unavailable —
    // an unconditional bracket would then name unredeemable lanes). The
    // bracketing canary probes pay one cold re-warm of li10f inside
    // canaryProbe's untimed warm-up run — measured values stay warm.
    if (dropCachesOk) canaryPre("x_zorder_partband_cold_sec",
      "x_linear_partband_cold_sec", "x_hivepart_pruned_cold_sec",
      "x_hivepart_scattered_cold_sec", "x_bloom_plain_cold_sec",
      "x_bloom_filtered_cold_sec")
    val tZorderPartCold = coldMedian("x_zorder_partband_cold_sec")(
      bandScan(liZorder, "l_partkey", pLo, pHi))
    val tLinearPartCold = coldMedian("x_linear_partband_cold_sec")(
      bandScan(liClustered, "l_partkey", pLo, pHi))
    val tMonthPrunedCold = coldMedian("x_hivepart_pruned_cold_sec")(
      monthHash(liMonth, col("ship_month") === "1998-06"))
    val tMonthScatteredCold = coldMedian("x_hivepart_scattered_cold_sec")(
      monthHash(liScattered,
        col("l_shipdate") >= lit("1998-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-07-01").cast("timestamp")))
    // cold bloom point-lookup: from disk the asymmetry is bytes, not just
    // decode — plain reads the full uid column, bloom reads 80 footers +
    // ~1 MiB of bloom bitset per file and rejects every row group
    val tBloomPlainCold = coldMedian("x_bloom_plain_cold_sec")(
      pointLookup(liUidPlain))
    val tBloomFilteredCold = coldMedian("x_bloom_filtered_cold_sec")(
      pointLookup(liUidBloom))
    if (dropCachesOk) canaryPost()
    // Grouped adaptive ladder at 10⁶ groups. Synthetic codegen frame,
    // no IO — the lane isolates the ladder itself: one 10⁶-group
    // aggregate of every rung's conditional moments, the per-group rung
    // selection projection and the 10⁶-row result sort. exactBelow=0
    // keeps every group on the LADDER route (the default would answer
    // these small groups from the exact sum instead). ONCE-run, not
    // stableMedian: a multi-second stamp would cost 4 runs in a median
    // batch for no extra information — the cost is the 10⁶-cardinality
    // aggregation itself.
    canaryPre("x_grouped_ladder_1m_groups_sec")
    val tLadder1M = {
      val groups = 1000000L
      val frame = spark.range(groups * 8).select(
        col("id").as("k"),
        pmod(col("id"), lit(groups)).cast("string").as("grp"),
        (pmod(col("id"), lit(997L)) + lit(1)).cast("double").as("v"))
      val t0 = System.nanoTime()
      val nOut = graft.exec.AdaptiveExecutor.runGroupedDeterministic(
        frame, value = col("v"), key = col("k"), group = col("grp"),
        exactBelow = 0L).count()
      require(nOut == groups,
        s"ladder at the 10⁶-group ceiling returned $nOut rows")
      probeOnce("x_grouped_ladder_1m_groups_sec") = () => {
        val t1 = System.nanoTime()
        graft.exec.AdaptiveExecutor.runGroupedDeterministic(
          frame, value = col("v"), key = col("k"), group = col("grp"),
          exactBelow = 0L).count(): Unit
        (System.nanoTime() - t1) / 1e9
      }
      (System.nanoTime() - t0) / 1e9
    }
    canaryPost()
    val extra = Seq(
      "x_pipeline_sec" -> tPipeline) ++
      pipelineStages.map { case (name, t) => s"x_pipeline_${name}_sec" -> t } ++
      Seq(
      "x_pipeline_staged_total_sec" -> pipelineStages.map(_._2).sum,
      "x_dedup10x_docs" -> nDocs10.toDouble,
      "x_cached_blocks_pre_dedup10x" -> xCachedBlocksPre10x.toDouble,
      "x_cached_mb_pre_dedup10x" -> xCachedMemMbPre10x,
      "x_dedup10x_neardup_sec" -> tDedup10Near) ++
      dedup10Stages.map { case (name, t) =>
        s"x_dedup10x_stage_${name}_sec" -> t } ++
      Seq(
      "x_dedup10x_stage_total_sec" -> dedup10Stages.map(_._2).sum,
      "x_state_read_50deltas_sec" -> tState50,
      "x_state_read_compacted_sec" -> tStateCompacted,
      "x_state_compaction_speedup" -> tState50 / tStateCompacted,
      "x_dedup10x_cands_sec" -> tDedup10Cands,
      "x_dedup10x_pairs_sec" -> tDedup10Pairs,
      "x_dedup10x_dupngram_sec" -> tDedup10Gram,
      "x_dedup10x_segdedup_sec" -> tDedup10Seg,
      "x_dedup10x_segdedup_hashed_sec" -> tDedup10SegHashed,
      "x_q35_10x_sec" -> tQ35at10x,
      "x_sizeprune_off_sec" -> tSizePruneOff,
      "x_sizeprune_on_sec" -> tSizePruneOn,
      "x_sizeprune_speedup" -> tSizePruneOff / tSizePruneOn,
      "x_sizeprune_bytes_off" -> bytesSizePruneOff,
      "x_sizeprune_bytes_on" -> bytesSizePruneOn,
      "x_sizeprune_bytes_shrink" -> bytesSizePruneOff / bytesSizePruneOn,
      "x_grouped_ladder_1m_groups_sec" -> tLadder1M,
      "x_spandedup_sec" -> tSpanDedup,
      "x_spandedup10x_sec" -> tSpanDedup10,
      "x_winnow_sec" -> tWinnow,
      "x_pipeline_withspan_sec" -> tPipelineSpan,
      "x_q20_60m_sec" -> tQ20at60m,
      "x_reliable_ckpt_pairs_sec" -> tReliablePairs,
      // the measured price of executor-loss recoverability on the
      // heaviest staging user (round-13 verdict item 4)
      "x_reliable_ckpt_overhead" ->
        (if (tDedup10Pairs > 0) tReliablePairs / tDedup10Pairs else -1.0),
      "x_bootstrap_plain_sec" -> tPlainSum,
      "x_bootstrap_sec" -> tBootstrap,
      "x_bootstrap_vs_plain_sum" ->
        (if (tPlainSum > 0) tBootstrap / tPlainSum else -1.0),
      "x_cd_exact_sec" -> tCdExact,
      "x_cd_hll_sec" -> tCdApprox,
      "x_cd_rewrite_speedup" ->
        (if (tCdApprox > 0) tCdExact / tCdApprox else -1.0),
      "x_cd_rewrite_err_pct" -> cdErrPct,
      "x_cd_hicard_exact_sec" -> tCdHiExact,
      "x_cd_hicard_hll_sec" -> tCdHiApprox,
      "x_cd_hicard_speedup" ->
        (if (tCdHiApprox > 0) tCdHiExact / tCdHiApprox else -1.0),
      "x_skew_plain_sec" -> tSkewPlain,
      "x_skew_salted_sec" -> tSkewSalted,
      "x_skew_speedup" ->
        (if (tSkewSalted > 0) tSkewPlain / tSkewSalted else -1.0),
      "x_argmax_window_sec" -> tLatestWindow,
      "x_argmax_agg_sec" -> tLatestAgg,
      "x_argmax_join_sec" -> tLatestJoin,
      "x_argmax_speedup" ->
        (if (tLatestAgg > 0) tLatestWindow / tLatestAgg else -1.0),
      "x_argmax_join_speedup" ->
        (if (tLatestJoin > 0) tLatestWindow / tLatestJoin else -1.0),
      "x_embed_neardup_sec" -> tEmbedDedup,
      "x_ann_ivf_recall" -> ivfRecall,
      "x_ann_lsh_recall" -> lshRecall,
      "x_ann_ivf_sec" -> tIvfFloat,
      "x_ann_ivf_int8_sec" -> tIvfInt8,
      "x_ann_ivf_int8_recall" -> ivf8Recall,
      "x_ann_index_build_sec" -> tIndexBuild,
      "x_ann_index_search_sec" -> tIndexSearch,
      "x_ann_index_maint_cycle_sec" -> tIndexMaint,
      "x_ann_index_maint_vs_rebuild" -> tIndexBuild / tIndexMaint,
      "x_ann_discovery_cand_lists" -> annDiscLists,
      "x_ann_discovery_total_lists" -> annDiscTotal,
      "x_ann_discovery_execprobe_lists" -> annDiscExecLists,
      "x_ann_bloom_sidecar_frac" -> annBloomFrac,
      "x_ann_index_retrain_sec" -> tIndexRetrain,
      "x_ann_index_1list_rewrite_frac" -> oneListBytes / allListsBytes,
      "x_ann_index_amortized_speedup" ->
        (if (tIndexSearch > 0) tIvfFloat / tIndexSearch else -1.0),
      // build-once pitch as a CURVE, not one contested ratio: number of
      // search batches after which the persisted index beats retrain-and-
      // rescan (build / per-batch saving); negative = search not faster
      "x_ann_index_breakeven_batches" ->
        (if (tIvfFloat - tIndexSearch > 0)
          tIndexBuild / (tIvfFloat - tIndexSearch) else -1.0),
      "x_ann_index8_build_sec" -> tIndex8Build,
      "x_ann_index8_search_sec" -> tIndex8Search,
      "x_ann_index8_search_speedup" ->
        (if (tIndex8Search > 0) tIndexSearch / tIndex8Search else -1.0),
      "x_ann_index_bytes_float" -> idxBytesFloat,
      "x_ann_index_bytes_int8" -> idxBytesInt8,
      "x_ann_index_bytes_shrink" ->
        (if (idxBytesInt8 > 0) idxBytesFloat / idxBytesInt8 else -1.0),
      "x_int8_leg_bytes_float" -> bytesFloatLeg,
      "x_int8_leg_bytes_coded" -> bytesCodedLeg,
      "x_int8_leg_shrink" ->
        (if (bytesCodedLeg > 0) bytesFloatLeg / bytesCodedLeg else -1.0),
      "x_priority_topk_sec" -> tPrioTopk,
      "x_priority_sort_sec" -> tPrioSort,
      "x_priority_speedup" ->
        (if (tPrioTopk > 0) tPrioSort / tPrioTopk else -1.0),
      "x_priority60_topk_sec" -> tPrio60Topk,
      "x_priority60_sort_sec" -> tPrio60Sort,
      "x_priority60_speedup" ->
        (if (tPrio60Topk > 0) tPrio60Sort / tPrio60Topk else -1.0),
      "x_priority60_sort_nolimit_sec" -> tPrio60SortNoLimit,
      "x_priority60_nolimit_speedup" ->
        (if (tPrio60Topk > 0) tPrio60SortNoLimit / tPrio60Topk else -1.0),
      "x_unijoin_exact_sec" -> tUniExact,
      "x_unijoin_sampled_sec" -> tUniSampled,
      "x_unijoin_speedup" ->
        (if (tUniSampled > 0) tUniExact / tUniSampled else -1.0),
      "x_unijoin_accuracy_pct" -> uniAccPct,
      "x_unijoin60_exact_sec" -> tUni60Exact,
      "x_unijoin60_sampled_sec" -> tUni60Sampled,
      "x_unijoin60_speedup" ->
        (if (tUni60Sampled > 0) tUni60Exact / tUni60Sampled else -1.0),
      "x_join_plain_sec" -> tJoinPlain,
      "x_join_bucketed_sec" -> tJoinBucketed,
      "x_bucketed_join_speedup" ->
        (if (tJoinBucketed > 0) tJoinPlain / tJoinBucketed else -1.0),
      "x10_rows" -> nRows.toDouble,
      "x10_exact_sum_sec" -> tExact,
      "x10_sys10_sum_sec" -> tSampled,
      "x10_filesample10_sum_sec" -> tFile,
      "x10_speedup_sys" -> (if (tSampled > 0) tExact / tSampled else -1.0),
      "x10_speedup_file" -> (if (tFile > 0) tExact / tFile else -1.0),
      "x10_sys10_accuracy_pct" -> accPct(sysEstV),
      "x10_file10_accuracy_pct" -> accPct(fileEstV),
      "x10_exact_mrows_per_sec" -> nRows / tExact / 1e6,
      "x_layout_scattered_sec" -> tScanScattered,
      "x_layout_clustered_sec" -> tScanClustered,
      "x_layout_speedup" ->
        (if (tScanClustered > 0) tScanScattered / tScanClustered else -1.0),
      "x_zorder_keyband_sec" -> tZorderKey,
      "x_linear_partband_sec" -> tLinearPart,
      "x_zorder_partband_sec" -> tZorderPart,
      "x_zorder_partband_speedup" ->
        (if (tZorderPart > 0) tLinearPart / tZorderPart else -1.0),
      "x_hivepart_scattered_sec" -> tMonthScattered,
      "x_hivepart_pruned_sec" -> tMonthPruned,
      "x_hivepart_speedup" ->
        (if (tMonthPruned > 0) tMonthScattered / tMonthPruned else -1.0),
      "x_bloom_plain_sec" -> tBloomPlain,
      "x_bloom_filtered_sec" -> tBloomFiltered,
      "x_bloom_pointlookup_speedup" ->
        (if (tBloomFiltered > 0) tBloomPlain / tBloomFiltered else -1.0),
      "x_bloom_plain_cold_sec" -> tBloomPlainCold,
      "x_bloom_filtered_cold_sec" -> tBloomFilteredCold,
      "x_bloom_pointlookup_cold_speedup" ->
        (if (tBloomFilteredCold > 0) tBloomPlainCold / tBloomFilteredCold
         else -1.0),
      "x_zorder_partband_cold_sec" -> tZorderPartCold,
      "x_linear_partband_cold_sec" -> tLinearPartCold,
      "x_zorder_partband_cold_speedup" ->
        (if (tZorderPartCold > 0) tLinearPartCold / tZorderPartCold else -1.0),
      "x_hivepart_pruned_cold_sec" -> tMonthPrunedCold,
      "x_hivepart_scattered_cold_sec" -> tMonthScatteredCold,
      "x_hivepart_cold_speedup" ->
        (if (tMonthPrunedCold > 0) tMonthScatteredCold / tMonthPrunedCold
         else -1.0))

    // END-OF-RUN REDEMPTION: probes that stayed slow+unstable in place get
    // up to THREE more batches now, with settle sleeps between co-loaded
    // attempts (mid-run co-load is usually transient — round 5's arrived
    // after minute 2 and the affected probes were clean again by the end;
    // the round-8 driver artifact's single redemption batch itself ran
    // under loadavg 22 and could redeem nothing). A stable, co-load-free
    // re-batch replaces the probe's value and clears its stamp; derived
    // ratios are recomputed from the redeemed bases so the artifact is
    // internally consistent.
    // self-defense v3: CANARY ATTRIBUTION. A lane whose bracketing
    // canaries read out-of-band ran (at least partly) on a degraded
    // host — its value cannot stand as clean even when its own spread
    // looked stable (spread can't see a collapse that lasts the whole
    // batch). Flag it dirty and send it to redemption; redemption
    // itself must now re-run under an IN-BAND canary, so a redeemed
    // number is one measured at host speed.
    // decision kernel lives in graft.bench.CanaryAttribution (pure,
    // spec-tested) — Bench only wires measurements to verdicts
    val bestCanary =
      if (canarySeq.nonEmpty) canarySeq.values.max else 0.0
    val medianCanary =
      if (canarySeq.isEmpty) 0.0
      else graft.bench.CanaryAttribution.median(canarySeq.values.toSeq)
    val canaryFlagged = scala.collection.mutable.LinkedHashSet.empty[String]
    canaryFlagged ++= graft.bench.CanaryAttribution.flagged(
      canaryBrackets, canarySeq.values.toSeq)
    canaryFlagged.foreach { name =>
      probeDirty += name
      if (!probeRedo.contains(name))
        probeOnce.get(name).foreach(o => probeRedo(name) = o)
    }
    // self-defense v4 (round-15): HISTORY ATTRIBUTION. A dip INSIDE a
    // lane's own measurement batch is invisible to both the spread check
    // (the dip can span the whole batch) and the bracket (pre/post
    // probes run outside the batch): the r14 driver stamp carried
    // x_priority60_topk_sec 4.60 s vs healthy 0.46–0.64 with brackets
    // 54.2/57.1 both in-band. A lane far above its canary-scaled
    // historical band (the BENCH_HISTORY.json ledger; fail-soft empty
    // when absent) is re-measured like any flagged lane. If the slow
    // value is REAL — a true regression — the redemption re-measure
    // reproduces it and the flagged-value window stamps it back, so
    // history flagging can delay an honest regression by one redemption
    // batch, never hide it. Only probe lanes (probeOnce) are eligible:
    // derived metrics get recomputed from redeemed bases below.
    // GATED on the main core count: ledger bands are measured at the
    // full-width run (the canary is scan-bound and cannot correct for a
    // deliberately lower SPARK_GRAFT_CPUS — join/shuffle lanes scale with
    // cores, the canary barely moves), and BenchHistory itself keeps only
    // rows at this run's scale factor. At low core counts history is OFF
    // and the bench behaves exactly as before round-15.
    val benchHistory =
      if (scala.util.Try(cpus.toInt).getOrElse(0) >= 16)
        graft.bench.BenchHistory.load(sfDir = sfDir)
      else Map.empty[String, Seq[(Double, Double)]]
    def histBandAt(name: String, canary: Double) =
      graft.bench.CanaryAttribution.historyBand(
        benchHistory.getOrElse(name, Nil), canary)
    val historyFlagged = scala.collection.mutable.LinkedHashSet.empty[String]
    (results ++ extra).foreach { case (name, v) =>
      if (probeOnce.contains(name) && !probeDirty.contains(name) &&
          graft.bench.CanaryAttribution.historyFlagged(
            v, histBandAt(name, medianCanary))) {
        historyFlagged += name
        probeDirty += name
        if (!probeRedo.contains(name))
          probeOnce.get(name).foreach(o => probeRedo(name) = o)
      }
    }
    // bench self-defense invariants (round-13 verdict items 1-2): every
    // redeemable lane is bracket-covered (an unbracketed lane can stamp a
    // dipped value unflagged — r13's x_layout_speedup 0.109), and every
    // bracketed lane has a redemption thunk (a flag with no redemption
    // path is permanently dirty by construction). Errored lanes never
    // registered a thunk and are excused — their value is -1 with the
    // error recorded, not a number anyone can quote.
    locally {
      val unbracketed =
        probeOnce.keySet -- canaryBrackets.keySet -- errors.keySet
      require(unbracketed.isEmpty,
        s"bench invariant: redeemable lanes without a canary bracket: " +
          unbracketed.mkString(", "))
      val unredeemable =
        canaryBrackets.keySet -- probeOnce.keySet -- errors.keySet
      require(unredeemable.isEmpty,
        s"bench invariant: bracketed lanes without a redemption thunk: " +
          unredeemable.mkString(", "))
    }
    val redemptionBar =
      graft.bench.CanaryAttribution.redemptionBar(canarySeq.values.toSeq)
    // the lane's in-run (flagged) values, for the plausibility window
    val origVals: Map[String, Double] = (results ++ extra).toMap
    val redeemed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val redemptionRejected =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    probeRedo.foreach { case (name, registeredAtDirtyTime) =>
      // ALWAYS redeem through the LATEST registration: stableMedian
      // registers its plain thunk into probeRedo the moment a lane goes
      // dirty in place, BEFORE the lane's conf-scoped re-registration
      // runs — r13's official stamp redeemed x_unijoin60_exact_sec
      // through that stale closure, measured a broadcast-eligible plan,
      // and stamped an impossible 0.49 s for a 60 M-row shuffle join
      // (root-caused in tools/RedemptionProbe; round-14). probeOnce is
      // updated by every re-registration; probeRedo is not.
      val once = probeOnce.getOrElse(name, registeredAtDirtyTime)
      val flaggedVal = origVals.getOrElse(name, -1.0)
      val bracketMin = canaryBrackets.get(name)
        .map(b => math.min(b._1, b._2)).getOrElse(medianCanary)
      var attempt = 0
      var done = false
      while (!done && attempt < 3) {
        val (b, oc) = batchOf(once)
        val redeemCanary = canaryProbe(s"redeem_$name")
        if (spreadOf(b) <= 0.30 && oc <= CoLoadCores &&
            redeemCanary >= redemptionBar) {
          // the host was healthy — now the VALUE must be plausible too:
          // a redeemed number outside the window derived from the
          // flagged measurement and the observed dip is measuring the
          // wrong thing (plan, warm state, or leg mix-up); keep the
          // flag rather than stamp it (round-13 verdict item 1).
          // Round-15: the window alone rejects the TRUE value when the
          // flagged number is itself dip-inflated ~10× (r14 rejected
          // hivepart_scattered's 0.2578 s against flagged 5.78; r13
          // stamp 0.29) — a redeemed value inside the lane's
          // canary-scaled HISTORICAL band is accepted as well.
          if (graft.bench.CanaryAttribution.plausibleRedemptionWithHistory(
              flaggedVal, bracketMin, redeemCanary, b(1),
              histBandAt(name, redeemCanary))) {
            probeDirty -= name
            canaryFlagged -= name
            redeemed(name) = b(1)
          } else {
            redemptionRejected(name) = b(1)
          }
          done = true
        } else if (oc > CoLoadCores) Thread.sleep(15000)
        attempt += 1
      }
    }
    val resultsFinal = results.map { case (k, v) =>
      k -> redeemed.getOrElse(k, v) }
    val m = scala.collection.mutable.LinkedHashMap(extra: _*)
    redeemed.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
    // (ratio metric, numerator, denominator); ratio = num / den. The
    // recompute below runs UNCONDITIONALLY over the final bases, so a
    // redeemed base can never leave a stale derived ratio — the r13
    // official stamp printed exact 0.49 / sampled 0.30 / "speedup"
    // 0.7439, an internally inconsistent triple, because this table was
    // missing eight entries (round-13 verdict item 2). COMPLETENESS IS
    // ASSERTED: every x_* metric whose name encodes a ratio must appear
    // here (see the require below the table).
    val ratioDefs = Seq(
      ("x_bootstrap_vs_plain_sum", "x_bootstrap_sec", "x_bootstrap_plain_sec"),
      ("x_cd_rewrite_speedup", "x_cd_exact_sec", "x_cd_hll_sec"),
      ("x_cd_hicard_speedup", "x_cd_hicard_exact_sec", "x_cd_hicard_hll_sec"),
      ("x_skew_speedup", "x_skew_plain_sec", "x_skew_salted_sec"),
      ("x_argmax_speedup", "x_argmax_window_sec", "x_argmax_agg_sec"),
      ("x_argmax_join_speedup", "x_argmax_window_sec", "x_argmax_join_sec"),
      ("x_ann_index_amortized_speedup", "x_ann_ivf_sec",
        "x_ann_index_search_sec"),
      ("x_ann_index8_search_speedup", "x_ann_index_search_sec",
        "x_ann_index8_search_sec"),
      ("x_ann_index_maint_vs_rebuild", "x_ann_index_build_sec",
        "x_ann_index_maint_cycle_sec"),
      ("x10_speedup_sys", "x10_exact_sum_sec", "x10_sys10_sum_sec"),
      ("x10_speedup_file", "x10_exact_sum_sec", "x10_filesample10_sum_sec"),
      ("x_layout_speedup", "x_layout_scattered_sec", "x_layout_clustered_sec"),
      ("x_zorder_partband_speedup", "x_linear_partband_sec",
        "x_zorder_partband_sec"),
      ("x_zorder_partband_cold_speedup", "x_linear_partband_cold_sec",
        "x_zorder_partband_cold_sec"),
      ("x_hivepart_speedup", "x_hivepart_scattered_sec",
        "x_hivepart_pruned_sec"),
      ("x_hivepart_cold_speedup", "x_hivepart_scattered_cold_sec",
        "x_hivepart_pruned_cold_sec"),
      ("x_bloom_pointlookup_speedup", "x_bloom_plain_sec",
        "x_bloom_filtered_sec"),
      ("x_bloom_pointlookup_cold_speedup", "x_bloom_plain_cold_sec",
        "x_bloom_filtered_cold_sec"),
      ("x_priority_speedup", "x_priority_sort_sec", "x_priority_topk_sec"),
      ("x_priority60_speedup", "x_priority60_sort_sec",
        "x_priority60_topk_sec"),
      ("x_priority60_nolimit_speedup", "x_priority60_sort_nolimit_sec",
        "x_priority60_topk_sec"),
      ("x_unijoin_speedup", "x_unijoin_exact_sec", "x_unijoin_sampled_sec"),
      ("x_unijoin60_speedup", "x_unijoin60_exact_sec",
        "x_unijoin60_sampled_sec"),
      ("x_bucketed_join_speedup", "x_join_plain_sec", "x_join_bucketed_sec"),
      ("x_sizeprune_speedup", "x_sizeprune_off_sec", "x_sizeprune_on_sec"),
      ("x_state_compaction_speedup", "x_state_read_50deltas_sec",
        "x_state_read_compacted_sec"),
      ("x_reliable_ckpt_overhead", "x_reliable_ckpt_pairs_sec",
        "x_dedup10x_pairs_sec"))
    // completeness guard: a ratio-shaped metric missing from ratioDefs
    // goes stale on redemption — fail the run instead. Non-time ratios
    // (bytes/fraction bases that are not redeemable lanes) are excused
    // by name.
    locally {
      val nonTimeRatios = Set("x_sizeprune_bytes_shrink",
        "x_ann_index_bytes_shrink", "x_int8_leg_shrink",
        "x_ann_bloom_sidecar_frac", "x_ann_index_1list_rewrite_frac",
        "x_ann_index_breakeven_batches") // breakeven recomputed below
      val ratioShaped = m.keysIterator.filter(k =>
        k.endsWith("_speedup") || k.endsWith("_overhead") ||
          k.endsWith("_shrink") || k.endsWith("_vs_plain_sum") ||
          k.endsWith("_vs_rebuild")).toSet
      val missing = ratioShaped -- ratioDefs.map(_._1).toSet -- nonTimeRatios
      require(missing.isEmpty,
        s"bench invariant: ratio metrics not covered by ratioDefs " +
          s"(would go stale on redemption): ${missing.mkString(", ")}")
    }
    ratioDefs.foreach { case (out, num, den) =>
      if (m.contains(out) && m.contains(num) && m.contains(den))
        m(out) = if (m(den) > 0) m(num) / m(den) else -1.0
    }
    if (redeemed.contains("x10_exact_sum_sec"))
      m("x10_exact_mrows_per_sec") = nRows / m("x10_exact_sum_sec") / 1e6
    if (Seq("x_ann_ivf_sec", "x_ann_index_search_sec",
        "x_ann_index_build_sec").exists(redeemed.contains)) {
      val d = m("x_ann_ivf_sec") - m("x_ann_index_search_sec")
      m("x_ann_index_breakeven_batches") =
        if (d > 0) m("x_ann_index_build_sec") / d else -1.0
    }
    m ++= Seq(
      "x_loadavg_start" -> loadStart,
      "x_loadavg_end" -> loadavg(),
      "x_quiesce_wait_sec" -> quiesceWaitSec.toDouble,
      "x_unstable_reruns" -> unstableReruns.toDouble,
      "x_unstable_reruns_slow" -> unstableRerunsSlow.toDouble,
      "x_coload_batches" -> coloadBatches.toDouble,
      "x_other_cores_max" -> maxOtherCores,
      "x_redeemed_probes" -> redeemed.size.toDouble,
      "x_redemption_rejected_probes" -> redemptionRejected.size.toDouble,
      "x_history_flagged_probes" -> historyFlagged.size.toDouble,
      "x_dirty_probes" -> probeDirty.size.toDouble,
      "x_canary_probes" -> canarySeq.size.toDouble,
      "x_canary_best_mrows" -> bestCanary,
      "x_canary_median_mrows" -> medianCanary,
      "x_canary_worst_mrows" ->
        (if (canarySeq.nonEmpty) canarySeq.values.min else -1.0),
      "x_canary_flagged" -> canaryFlagged.size.toDouble)
    // the artifact's own verdict on itself: start load never calmed below
    // the gate, or more than 3 SLOW probes are STILL dirty after in-place
    // retries and end-of-run redemption. Per-probe stamps ride in
    // "unstable": ONLY those probes' values (and ratios built on them)
    // are suspect; a clean rest of the artifact stands. (loadavg at END
    // is always elevated: the bench's own local[32] work drives it.)
    val polluted = loadStart > 2.5 || probeDirty.size > 3

    val qs = (resultsFinal.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" } ++
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" })
      .mkString("{", ",", "}")
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val unstableJson = probeDirty
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // the full canary sequence rides the artifact so per-lane host-state
    // attribution is auditable after the fact (self-defense v3)
    val canaryJson = canarySeq
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val canaryFlaggedJson = canaryFlagged
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // WHICH lanes were redeemed (and which redemptions were rejected as
    // implausible, with the rejected value) ride the artifact — a reader
    // must be able to tell a redeemed number from an in-place one
    // (round-13 verdict item 1a)
    val redeemedJson = redeemed.keysIterator
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val rejectedJson = redemptionRejected
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = resultsFinal.map(_._2).filter(_ >= 0).sum
    val line =
      f"""{"metric":"headline_total","value":$total%.4f,"unit":"sec","polluted":$polluted,"unstable":$unstableJson,"canary_flagged":$canaryFlaggedJson,"redeemed":$redeemedJson,"redemption_rejected":$rejectedJson,"canaries":$canaryJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    // Belt and braces for the driver's parser: the JSON goes to stdout as
    // its own (last) line AND to a file — sbt/log4j noise on stdout blinded
    // the round-1 perf gate ("parsed": null in BENCH_r01.json).
    spark.stop()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line)
  }
}
