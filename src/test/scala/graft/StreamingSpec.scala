package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.StreamingAgg

class StreamingSpec extends SparkSpec {

  test("windowed approx agg over a streamed events fixture tracks the batch answer") {
    val batchEvents = Tables.events(spark, sf0001)
    // stream the same parquet through a file source with one-file batches;
    // schema must be the RAW on-disk schema (ts physical type varies by
    // generator version), normalized after read like Tables.events does
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    // file-source streaming needs a DIRECTORY; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val approx = StreamingAgg.windowedApproxAgg(streamed, "1 hour", step = 5L)
    val got = StreamingAgg.runToMemory(spark, approx, "approx_hourly")

    val exactTotal = batchEvents.agg(sum("value")).head.getDouble(0)
    val estTotal = got.agg(sum("sum_value_est")).head.getDouble(0)
    assert(got.count() > 0, "no windows emitted")
    assert(math.abs(estTotal - exactTotal) / exactTotal < 0.25,
      s"stream estimate $estTotal vs exact $exactTotal")
  }

  test("windowed HLL distinct and streaming dedup over a streamed fixture") {
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    def streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    // HLL distinct per window tracks exact batch distinct within sketch error
    val approx = StreamingAgg.windowedApproxDistinct(streamed, "1 hour")
    val got = StreamingAgg.runToMemory(spark, approx, "approx_distinct")
    val exact = batchEvents
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(countDistinct("user_id").as("n"))
    // append mode: the final (still-open) window sits behind the watermark
    // and is not emitted — compare the closed windows only
    assert(got.count() >= exact.count() - 1, "nearly all windows closed")
    val joined = got.withColumnRenamed("window_start", "hour").join(exact, "hour")
    val totalEst = joined.agg(sum("n_distinct_est")).head.getLong(0).toDouble
    val totalExact = joined.agg(sum("n")).head.getLong(0).toDouble
    assert(math.abs(totalEst - totalExact) / totalExact < 0.10,
      s"HLL total $totalEst vs exact $totalExact over closed windows")
    // dedup on event_id: the fixture has unique ids, so doubling the input
    // must collapse back to the original count
    val doubled = streamed.union(streamed)
    val deduped = StreamingAgg.dedupStream(doubled, keyCols = Seq("event_id"))
    val gotDedup = StreamingAgg.runToMemory(spark, deduped, "dedup_stream")
    assert(gotDedup.count() === batchEvents.count(),
      s"${gotDedup.count()} deduped vs ${batchEvents.count()} source events")
  }

  test("streaming moment sketch is bit-identical to the batch sketch per window") {
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream_mom")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    // integer-valued input per the cents rule: value quantized to cents
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val got = StreamingAgg.runToMemory(spark,
      StreamingAgg.windowedMoments(streamed, "1 hour", cents), "moments_stream")
      .collect().map(r => r.getTimestamp(0) ->
        ((r.getLong(2), r.getDecimal(3), r.getDecimal(4)))).toMap
    val batch = graft.exec.Estimators.momentSketch(
        batchEvents.withColumn("hour", date_trunc("hour", col("ts")))
          .withColumn("c", cents),
        col("c"), Seq("hour"))
      .collect().map(r => r.getTimestamp(0) ->
        ((r.getLong(1), r.getDecimal(2), r.getDecimal(3)))).toMap
    assert(got.nonEmpty)
    // every CLOSED window's sketch equals the batch sketch bit-for-bit —
    // merged downstream partials therefore equal the batch rollup too
    got.foreach { case (w, sk) => assert(sk === batch(w), s"window $w") }
    assert(got.size >= batch.size - 1) // only the trailing open window may lag
  }

  test("streaming Count-Min windows merge to the batch sketch of the same rows") {
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream_cms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val perWindow = StreamingAgg.runToMemory(spark,
      StreamingAgg.windowedCountMin(streamed, "1 hour", col("user_id"),
        width = 64), "cms_stream")
    // merge the closed windows' sketches (counts add) and compare against
    // the batch CMS built from exactly the rows of those windows
    val closed = perWindow.select(col("window_start"), col("hash_idx"),
      col("bucket"), col("cnt"))
    val mergedStream = closed.groupBy(col("hash_idx"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val coveredHours = closed.select(col("window_start")).distinct()
    val batchScope = batchEvents
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .join(coveredHours, Seq("window_start"), "left_semi")
    val batchCms = graft.functions.CountMin.build(batchScope,
      col("user_id"), width = 64)
    assert(mergedStream.orderBy("hash_idx", "bucket").collect().toSeq ==
      batchCms.orderBy("hash_idx", "bucket").collect().toSeq)
  }

  test("streaming histogram windows merge to the batch histogram; quantiles read off") {
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream_hist")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val perWindow = StreamingAgg.runToMemory(spark,
      StreamingAgg.windowedHistogram(streamed, "1 hour", col("value"),
        lo = 0.0, width = 10.0, nBins = 64), "hist_stream")
    val closed = perWindow.select(col("window_start"), col("bin"), col("cnt"))
    val merged = closed.groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    val coveredHours = closed.select(col("window_start")).distinct()
    val batchScope = batchEvents
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .join(coveredHours, Seq("window_start"), "left_semi")
    val batchHist = graft.exec.HistQuantile.histogram(batchScope,
      col("value"), 0.0, 10.0, 64)
    assert(merged.orderBy("bin").collect().toSeq ==
      batchHist.orderBy("bin").collect().toSeq)
    // quantiles read directly off the merged streaming sketch
    val q = graft.exec.HistQuantile.quantiles(merged, 0.0, 10.0, Seq(0.5))
      .collect().head.getDouble(1)
    val exact = batchScope.agg(percentile(col("value"), lit(0.5)))
      .collect().head.getDouble(0)
    assert(math.abs(q - exact) <= 10.0, s"hist p50 $q vs exact $exact")
  }

  test("stream-stream interval join matches the batch band join") {
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream3")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    def streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val sel = Seq("event_id", "user_id", "ts")
    val clicks = streamed.filter(col("event_type") === "click")
      .selectExpr(sel: _*)
    val purchases = streamed.filter(col("event_type") === "purchase")
      .selectExpr(sel: _*)
    // purchases within 1h AFTER a click by the same user
    val joined = StreamingAgg.intervalJoin(clicks, purchases, "user_id", "ts",
      beforeSec = 0L, afterSec = 3600L)
    val got = StreamingAgg.runToMemory(spark, joined, "interval_join")
    val exact = batchEvents.filter(col("event_type") === "click").as("c")
      .join(batchEvents.filter(col("event_type") === "purchase").as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts") >= col("c.ts") &&
          col("p.ts") <= col("c.ts") + expr("INTERVAL 3600 SECONDS"))
      .count()
    assert(got.count() === exact,
      s"stream join ${got.count()} pairs vs batch $exact")
  }

  test("stream-static enrichment join matches the batch join") {
    // the feature-store shape: a live stream broadcast-enriched against a
    // static dimension — Spark joins each micro-batch against the static
    // side with no streaming state at all
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream4")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("cohort", pmod(col("user_id"), lit(5L)))
    val enriched = streamed.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
    val got = StreamingAgg.runToMemory(spark, enriched, "enriched",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val exact = batchEvents.withColumn("cohort", pmod(col("user_id"), lit(5L)))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMap === exact)
  }

  test("streaming hourly volume + EWMA flags are bit-identical to the batch trend pass") {
    import graft.operators.Rolling
    val batchEvents = Tables.events(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "events")).schema
    val dir = java.nio.file.Files.createTempDirectory("events_stream_ewma")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf0001, "events")),
      dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .transform(Tables.normalizeEventTs)
    val rollup = StreamingAgg.windowedTypedVolume(streamed, "1 hour")
    val got = StreamingAgg.runToMemory(spark, rollup, "typed_volume",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    def flagsOf(r: org.apache.spark.sql.DataFrame) =
      Rolling.ewmaFlags(r, Seq("event_type"), Seq("h"), col("x"))
        .select(col("event_type"), col("h"), col("x").cast("double"),
          col("ewma_prev"), col("flag"))
    val batchRollup = batchEvents
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
    val a = flagsOf(got)
    val b = flagsOf(batchRollup)
    assert(a.count() == b.count() && a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("streaming KMV sketch maintenance: per-batch folds converge to the batch sketch") {
    import graft.operators.CorpusOverlap
    val docs = Tables.documents(spark, sf0001)
    val rawSchema = spark.read.parquet(Tables.path(sf0001, "documents")).schema
    // two one-file batches so the fold path actually merges
    val dir = java.nio.file.Files.createTempDirectory("docs_stream_kmv")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write
      .parquet(dir.resolve("drop1").toString)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write
      .parquet(dir.resolve("drop2").toString)
    val streamDir = java.nio.file.Files.createTempDirectory("docs_stream_in")
    Seq("drop1", "drop2").zipWithIndex.foreach { case (d, i) =>
      val part = java.nio.file.Files.list(dir.resolve(d)).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        streamDir.resolve(s"$i.parquet"))
    }
    val statePath = java.nio.file.Files
      .createTempDirectory("kmv_state").resolve("sketch").toString
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CorpusOverlap.foldSketchToParquet(batch, "source", "text",
          statePath, k = 64)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("kmv_ckpt").toString)
      .start()
    q.awaitTermination()
    val maintained = spark.read.parquet(statePath)
    val rebuilt = CorpusOverlap.kmvSketch(
      CorpusOverlap.shingleHashes(docs, "source", "text"), k = 64)
    assert(maintained.count() > 0)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty)
  }

  test("streaming IVM sink maintains a join-view aggregate across batches") {
    import spark.implicits._
    import graft.streaming.UpsertSink
    val in = java.nio.file.Files.createTempDirectory("ivm_in")
    val table = java.nio.file.Files.createTempDirectory("ivm_table").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm_ckpt").toString
    val dim = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("k", "g")
    // batch 1: inserts; batch 2: one more insert + a DELETE of (1L, 10.0)
    val fileA = Seq((1L, 10.0, 1), (2L, 20.0, 1), (3L, 30.0, 1))
      .toDF("k", "v", "sign")
    val fileB = Seq((3L, 40.0, 1), (1L, 10.0, -1)).toDF("k", "v", "sign")
    fileA.coalesce(1).write.parquet(s"$in/f1")
    fileB.coalesce(1).write.parquet(s"$in/f2")
    val stream = spark.readStream.schema(fileA.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/f*")
    UpsertSink.maintainJoinAggToParquet(stream, dim, "k", Seq("g"), "v",
      table, ckpt)
    val got = UpsertSink.readSnapshot(spark, table).get
      .select(col("g"), col("n"), col("sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // net fact rows after the delete: (2,20) in x; (3,30),(3,40) in y
    assert(got === Set(("x", 1L, 20.0), ("y", 2L, 70.0)))
  }

  test("streaming upsert sink converges to latest-per-key across batches") {
    import spark.implicits._
    import graft.streaming.UpsertSink
    import graft.operators.Packing
    // two input files → two micro-batches; keys overlap across them, so
    // the second batch must UPDATE rows the first batch inserted
    val in = java.nio.file.Files.createTempDirectory("upsert_in")
    val table = java.nio.file.Files.createTempDirectory("upsert_table").toString
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val fileA = Seq((1L, 10L, "a0"), (2L, 10L, "b0"), (3L, 10L, "c0"))
      .toDF("key", "version", "payload")
    val fileB = Seq((2L, 20L, "b1"), (3L, 5L, "c_stale"), (4L, 20L, "d0"))
      .toDF("key", "version", "payload")
    fileA.coalesce(1).write.parquet(s"$in/f1")
    fileB.coalesce(1).write.parquet(s"$in/f2")
    val schema = fileA.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/f*")
    UpsertSink.upsertToParquet(stream, table, ckpt,
      keyCols = Seq("key"), orderCols = Seq("version", "payload"))
    val got = UpsertSink.readSnapshot(spark, table).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // regardless of which file formed which batch, the snapshot must equal
    // latest-per-key over ALL input (merge is order-independent given the
    // deterministic total order)
    val want = Packing.latestPerKey(fileA.unionByName(fileB),
        Seq("key"), Seq("version", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === want)
    assert(got === Set((1L, 10L, "a0"), (2L, 20L, "b1"), (3L, 10L, "c0"),
      (4L, 20L, "d0"))) // stale c_stale (version 5) must NOT win

    // Replay after crash-between-marker-and-checkpoint-commit: delete the
    // last batch's commit marker so the restarted query re-runs that batch.
    // The sink must recognize the already-written version (marker ==
    // v$batchId) and skip — a naive re-merge reads the snapshot directory
    // it is about to overwrite and Spark aborts the write.
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val last = java.nio.file.Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    java.nio.file.Files.delete(commits.resolve(last.toString))
    // local ChecksumFs keeps a shadow .N.crc; leaving it behind makes the
    // replayed commit's rename fail for a reason unrelated to the sink
    java.nio.file.Files.deleteIfExists(commits.resolve(s".$last.crc"))
    val stream2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/f*")
    UpsertSink.upsertToParquet(stream2, table, ckpt,
      keyCols = Seq("key"), orderCols = Seq("version", "payload"))
    val afterReplay = UpsertSink.readSnapshot(spark, table).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(afterReplay === want) // idempotent: same snapshot, no throw
  }

  test("sessionize closes sessions and sums values") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamingAgg.Event]
    // batch Dataset: flatMapGroupsWithState over a bounded group works in
    // batch mode too; trailing sessions are closed, so every event lands in
    // exactly one emitted session
    val sessions = StreamingAgg.sessionize(evs, gapMillis = 60 * 60 * 1000L)
    val out = sessions.collect()
    assert(out.nonEmpty)
    assert(out.forall(s => s.n_events > 0))
    assert(out.forall(s => !s.session_end.before(s.session_start)))
    assert(out.map(_.n_events).sum == evs.count(),
      "every event must land in exactly one session")
  }

  test("streaming curation: N-batch foreachBatch fold equals the one-shot batch pipeline") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingCuration
    // planted corpus: batches arrive in ascending-id order and near-dup
    // clusters are CLIQUES (pairwise J ≈ 17/19 ≥ 0.8) — the regime the
    // scaladoc guarantees exact batch equivalence for. One exact-dup
    // chain (2,12,22), one near-dup clique (3,13,23), one contaminated
    // doc (15 = the eval text), one junk doc (25).
    val base = (1 to 19).map(i => s"word$i").mkString(" ")
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then naps", "web"),
      (2L, "exact duplicate content that appears in every single batch here", "web"),
      (3L, s"$base alpha", "web"),
      (4L, "an entirely unrelated document about spark physical plans today", "books"))
    val batch2 = Seq(
      (11L, "another unique document discussing columnar storage layouts now", "web"),
      (12L, "exact duplicate content that appears in every single batch here", "books"),
      (13L, s"$base beta", "web"),
      (15L, "the secret benchmark answer is forty two obviously", "web"))
    val batch3 = Seq(
      (21L, "final unique document covering adaptive query execution things", "books"),
      (22L, "exact duplicate content that appears in every single batch here", "web"),
      (23L, s"$base gamma", "web"),
      (25L, "!!! ??? !!! ??? !!!", "web"))
    val eval = Seq((100L, "the secret benchmark answer is forty two obviously"))
      .toDF("doc_id", "text")
    val storePath = tmpPath("streamcur_store")
    val outPath = tmpPath("streamcur_out")
    Seq(storePath, outPath).foreach { p =>
      val d = new java.io.File(p)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    // compactEvery=1 exercises the in-stream snapshot fold: state is
    // compacted before batches 1 and 2, and the fold must still equal the
    // one-shot pipeline exactly
    val cfg = StreamingCuration.Config(minQuality = 0.2,
      compactEvery = Some(1))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = StreamingCuration.runStream(
      input.toDF().toDF("doc_id", "text", "source"), storePath, outPath,
      Some(eval), "doc_id", "text", cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      Seq(batch1, batch2, batch3).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long, String)] =
      df.select(col("doc_id"), col("text"), col("source"), col("n_tokens"),
          col("split"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getString(4))).toSet
    val streamed = rows(spark.read.parquet(outPath))
    val oneShot = rows(graft.operators.CurationPipeline.run(
      (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text", "source"),
      Some(eval), "doc_id", "text", "source",
      graft.operators.CurationPipeline.Config(minQuality = 0.2)))
    assert(streamed === oneShot,
      s"stream-fold vs one-shot mismatch:\n only-stream=${streamed -- oneShot}\n only-batch=${oneShot -- streamed}")
    // the dedup actually happened: exact chain keeps 2, clique keeps 3,
    // contaminated 15 dropped
    val keptIds = streamed.map(_._1)
    assert(keptIds.contains(2L) && !keptIds.contains(12L) && !keptIds.contains(22L))
    assert(keptIds.contains(3L) && !keptIds.contains(13L) && !keptIds.contains(23L))
    assert(!keptIds.contains(15L))
  }

  test("streaming curation: a plain micro-batch stays within its Spark job budget") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // the fixture of the N-batch fold test above, curated batch by batch
    val base = (1 to 19).map(i => s"word$i").mkString(" ")
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog and then naps", "web"),
        (2L, "exact duplicate content that appears in every single batch here", "web"),
        (3L, s"$base alpha", "web"),
        (4L, "an entirely unrelated document about spark physical plans today", "books")),
      Seq((11L, "another unique document discussing columnar storage layouts now", "web"),
        (12L, "exact duplicate content that appears in every single batch here", "books"),
        (13L, s"$base beta", "web"),
        (15L, "the secret benchmark answer is forty two obviously", "web")),
      Seq((21L, "final unique document covering adaptive query execution things", "books"),
        (22L, "exact duplicate content that appears in every single batch here", "web"),
        (23L, s"$base gamma", "web"),
        (25L, "!!! ??? !!! ??? !!!", "web")))
      .map(_.toDF("doc_id", "text", "source"))
    val eval = Seq((100L, "the secret benchmark answer is forty two obviously"))
      .toDF("doc_id", "text")
    val store = tmpPath("streamcur_budget_store")
    val out = tmpPath("streamcur_budget_out")
    val cfg = StreamingCuration.Config(minQuality = 0.2)
    def curate(b: Int) = StreamingCuration.curateBatch(batches(b), store,
      Some(eval), "doc_id", "text", cfg, batchId = b.toLong, outPath = Some(out))
    curate(0)
    curate(1)
    val (kept, count) = jobsDuring(curate(2))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === Set(21L))
    // one feature staging, one candidate-and-verify pass, one read of its
    // staged pairs for the losers, and the loser and eval probes inside
    // the projections that read the feature staging: 18 jobs here, where
    // the staged broadcast loser anti-join ran 20, and the label rounds
    // of dupClusters and the exploding decontamination join ran 26
    assert(count.jobs <= 19, s"the third batch ran ${count.jobs} jobs")
  }

  /** A micro-batch, its stored `kept/` docs and an in-batch bucket cap
    * that the batch's five-member clique exceeds. 40-token documents: one
    * swapped token changes 3 of 38 trigram shingles, so one swap apart is
    * J = 35/41 ≈ 0.854 ≥ 0.8 and two swaps apart J = 32/44 ≈ 0.727 < 0.8. */
  private def nearDupFixture()
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Int) = {
    import spark.implicits._
    def doc(pre: String, swaps: (Int, String)*): String = {
      val w = (0 until 40).map(i => s"$pre$i").toArray
      swaps.foreach { case (i, t) => w(i) = t }
      w.mkString(" ")
    }
    val batch = (
      // five pairwise near-dups: buckets of up to five ids, over the cap
      (1L to 5L).map(i => (i, doc("a", 35 -> s"v$i"))) ++
      // an in-batch chain: 20~21, 21~22, 20≁22
      Seq((20L, doc("c")), (21L, doc("c", 10 -> "x")),
        (22L, doc("c", 10 -> "x", 25 -> "y"))) ++
      // id 30 is also a stored doc (different text, one swap apart); 29
      // is near the stored 30 but two swaps from the batch 30, so only
      // the kind tag decides which text verifies against it
      Seq((29L, doc("s", 9 -> "q")), (30L, doc("s", 5 -> "new")),
        (31L, doc("s", 7 -> "z")),
        // a batch doc near only a stored doc
        (41L, doc("t", 3 -> "w"))) ++
      Seq((50L, "an unrelated short document"), (51L, "")))
      .toDF("doc_id", "text")
    val stored = Seq((30L, doc("s")), (40L, doc("t")),
      (60L, doc("u"))).toDF("id", "text")
    (batch, stored, 3)
  }

  test("fused candidate-and-verify pass equals the two-pass in-batch and batch-vs-store formulation") {
    import graft.operators.Dedup
    import graft.streaming.StreamingCuration
    val (batch, stored, cap) = nearDupFixture()
    val storedBands = Dedup.lshBands(stored, "id", "text")
    val batchBands = Dedup.lshBands(batch, "doc_id", "text")
    val maxBucket = batchBands.groupBy("band", "band_sig").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket > cap, "precondition: an in-batch bucket over the cap")

    val feats = Dedup.withBandSigs(batch, "text", "__bands")
      .withColumn("__sh", Dedup.shingleHashes64(col("text"), 3))
    val fused = StreamingCuration.verifiedPairs(feats, "doc_id", storedBands,
      stored, 0.8, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

    // the twin: capped in-batch combos and the uncapped batch ⋈ store join,
    // each verified on its own
    val sh = Dedup.shingleHashes64(col("text"), 3)
    val batchSh = batch.select(col("doc_id").as("id"), sh.as("sh"))
    val keptSh = stored.select(col("id"), sh.as("sh"))
    def verify(cands: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      cands
        .join(a.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(b.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(Dedup.jaccardHashedGE(col("sh_a"), col("sh_b"), 0.8).isNotNull)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val internal = verify(batchBands
      .groupBy(col("band"), col("band_sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.cappedPairCombos(col("ids"), cap)).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct(), batchSh, batchSh)
    val store = verify(batchBands
      .join(storedBands.select(col("id").as("id_b"), col("band"),
        col("band_sig")), Seq("band", "band_sig"))
      .select(col("doc_id").as("id_a"), col("id_b")).distinct(),
      batchSh, keptSh)

    assert(fused.filterNot(_._3).map(p => (p._1, p._2)) === internal)
    assert(fused.filter(_._3).map(p => (p._1, p._2)) === store)
    // the fixture's shapes all show up
    assert(internal.contains((20L, 21L)) && internal.contains((21L, 22L)) &&
      !internal.contains((20L, 22L)), "in-batch chain")
    assert(store.contains((30L, 30L)) && store.contains((41L, 40L)),
      "batch ids matched against the store, including one in both")
    assert(store.contains((29L, 30L)) && !internal.contains((29L, 30L)),
      "an id in both the batch and the store verifies with each side's text")
  }

  test("near-dup losers: the driver union-find equals dupClusters' non-representatives plus the stored matches") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamingCuration
    type Verified = org.apache.spark.sql.DataFrame
    // the rule the union-find replaces: component-min labels of the
    // in-batch edges, and every batch doc with a stored match
    def twin(v: Verified): Set[Long] =
      (Dedup.dupClusters(v.filter(!col("stored")))
        .filter(col("id") =!= col("cluster")).select(col("id"))
        .union(v.filter(col("stored")).select(col("id_a")))
        .collect().map(_.getLong(0))).toSet
    def losers(v: Verified): Set[Long] = {
      val got = StreamingCuration.nearDupLosers(v)
      assert(got.length === got.distinct.length, "losers repeat")
      got.toSet
    }
    def edges(e: (Long, Long, Boolean)*): Verified =
      e.toDF("id_a", "id_b", "stored").repartition(3)

    // verifiedPairs over the fixture: an over-cap five-member clique
    // (star-collapsed at cap 3), the 20~21~22 chain, stored matches, and
    // docs with no edge
    val (batch, stored, cap) = nearDupFixture()
    val feats = Dedup.withBandSigs(batch, "text", "__bands")
      .withColumn("__sh", Dedup.shingleHashes64(col("text"), 3))
    val verified = StreamingCuration.verifiedPairs(feats, "doc_id",
      Dedup.lshBands(stored, "id", "text"), stored, 0.8, maxBucket = cap)
    val fixture = losers(verified)
    assert(fixture === twin(verified))
    assert(Set(2L, 3L, 4L, 5L, 21L, 22L, 29L, 30L, 41L).subsetOf(fixture) &&
      !fixture.contains(1L) && !fixture.contains(20L) &&
      !fixture.contains(50L) && !fixture.contains(51L), fixture)

    // a clique whose ids a stored match also reaches, and no edges at all
    val clique = edges((7L, 8L, false), (7L, 9L, false), (8L, 9L, false),
      (9L, 12L, true), (9L, 13L, true), (11L, 12L, true))
    assert(losers(clique) === Set(8L, 9L, 11L))
    assert(losers(clique) === twin(clique))
    val none = edges()
    assert(losers(none).isEmpty && twin(none).isEmpty)

    // a 30-hop chain: dupClusters refuses it at its 20 rounds, the
    // union-find collapses it to its min id
    val chain = edges((0L until 30L).reverse.map(i => (i, i + 1, false)): _*)
    intercept[IllegalStateException](twin(chain))
    assert(losers(chain) === (1L to 30L).toSet)
  }

  test("near-dup loser probe keeps the ids the broadcast left_anti join kept, for long and int ids") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamingCuration
    val (batch, stored, cap) = nearDupFixture()
    val feats = Dedup.withBandSigs(batch, "text", "__bands")
      .withColumn("__sh", Dedup.shingleHashes64(col("text"), 3))
    val losers = StreamingCuration.nearDupLosers(StreamingCuration.verifiedPairs(
      feats, "doc_id", Dedup.lshBands(stored, "id", "text"), stored, 0.8,
      maxBucket = cap))
    assert(losers.nonEmpty)
    // the fixture plus a NULL id, which neither form may drop
    val docs = batch.union(Seq((Option.empty[Long], "no id")).toDF("doc_id", "text"))
    for (idType <- Seq("long", "int")) {
      val typed = docs.withColumn("doc_id", col("doc_id").cast(idType))
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
        df.select(col("doc_id").cast("long")).collect()
          .map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq.sorted
      val joined = typed.join(broadcast(losers.toSeq.toDF("id")
          .select(col("id").cast(idType).as("doc_id"))),
        Seq("doc_id"), "left_anti")
      val probed = StreamingCuration.withoutIds(typed, "doc_id", losers.sorted)
      assert(ids(probed) === ids(joined), idType)
      assert(ids(probed).contains(None) && ids(probed).contains(Some(1L)) &&
        !ids(probed).contains(Some(2L)), idType)
    }
  }

  test("eval n-gram probe in the staging projection keeps the ids Decontam.decontaminate keeps") {
    import spark.implicits._
    import graft.operators.{Decontam, Dedup}
    val train = Seq[(Long, String)](
      (1L, "the secret benchmark answer is forty two obviously"),
      (2L, null),
      (3L, "two"),
      (4L, "answer is"),
      (5L, "an unrelated document about columnar storage"),
      (6L, "noise words then forty two obviously at the end"),
      (7L, "Answer  IS forty"),
      (8L, "")).toDF("doc_id", "text")
    val evals = Map(
      "overlapping" -> Seq[(Long, String)](
        (100L, "the secret benchmark answer is forty two obviously"),
        (101L, null)).toDF("doc_id", "text"),
      "empty" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "disjoint" -> Seq[(Long, String)](
        (102L, "nothing here appears in any training document")).toDF("doc_id", "text"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    for (n <- Seq(2, 3); (name, ev) <- evals) {
      val probe = train.filter(Decontam.keepUncontaminated(
        Dedup.shingleHashes64(col("text"), n),
        Decontam.evalGramHashes(ev, "text", n)))
      assert(ids(probe) === ids(Decontam.decontaminate(train, ev, "doc_id",
        "text", n = n)), s"n = $n, $name eval")
    }
    // the fixture's shapes all show up: NULL text and docs shorter than n
    // stay kept, any shared gram drops a doc
    val n2 = ids(train.filter(Decontam.keepUncontaminated(
      Dedup.shingleHashes64(col("text"), 2),
      Decontam.evalGramHashes(evals("overlapping"), "text", 2))))
    assert(n2 === Set(2L, 3L, 5L, 7L, 8L))
    val n3 = ids(train.filter(Decontam.keepUncontaminated(
      Dedup.shingleHashes64(col("text"), 3),
      Decontam.evalGramHashes(evals("overlapping"), "text", 3))))
    assert(n3 === Set(2L, 3L, 4L, 5L, 7L, 8L))
  }

  test("streaming curation with span dedup: fold equals the one-shot batch pipeline") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingCuration
    // planted cross-batch duplicated SPAN: a 7-word boilerplate sits in a
    // batch-1 doc and a batch-2 doc. keep-first (the fold-exact policy)
    // leaves it in the earliest doc and excises it from the later one —
    // in BOTH the foreachBatch fold and the one-shot batch pipeline.
    val boiler = "subscribe to our newsletter for updates today"
    val batch1 = Seq(
      (1L, s"$boiler unique first document text about foxes", "web"),
      (2L, "plain document with no duplication at all present", "web"))
    val batch2 = Seq(
      (11L, s"another later document $boiler trailing words here", "web"),
      (12L, "yet another unique text body entirely different", "books"))
    val storePath = tmpPath("streamspan_store")
    val outPath = tmpPath("streamspan_out")
    Seq(storePath, outPath).foreach { p =>
      val d = new java.io.File(p)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    val cfg = StreamingCuration.Config(spanDedupK = Some(4))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = StreamingCuration.runStream(
      input.toDF().toDF("doc_id", "text", "source"), storePath, outPath,
      None, "doc_id", "text", cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      Seq(batch1, batch2).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
      df.select(col("doc_id"), col("text"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val streamed = rows(spark.read.parquet(outPath))
    val oneShot = rows(graft.operators.CurationPipeline.run(
      (batch1 ++ batch2).toDF("doc_id", "text", "source"),
      None, "doc_id", "text", "source",
      graft.operators.CurationPipeline.Config(spanDedupK = Some(4))))
    assert(streamed === oneShot,
      s"span-fold vs one-shot mismatch:\n only-stream=${streamed -- oneShot}\n only-batch=${oneShot -- streamed}")
    val texts = streamed.map(t => t._1 -> t._2).toMap
    assert(texts(1L).startsWith(boiler), "earliest doc keeps the span")
    assert(texts(11L) === "another later document trailing words here",
      "later doc loses exactly the boilerplate span")
  }

  test("curation batch retry after a partial state commit is an idempotent overwrite") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-6 ADVICE (medium): with append-mode state, a crash between the
    // fingerprint append and the output write made the RETRY anti-join its
    // own rows away as 'seen' — permanently dropping them. The batch-keyed
    // protocol must instead recompute from the pre-batch state and
    // overwrite the crashed attempt's delta.
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (2L, "exact duplicate content appearing in both batches here", "web"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq(
      (11L, "a fresh unique document about catalyst optimizer rules", "web"),
      (12L, "exact duplicate content appearing in both batches here", "web"))
      .toDF("doc_id", "text", "source")
    val dirs = Seq(tmpPath("replay_storeA"), tmpPath("replay_outA"),
      tmpPath("replay_storeB"), tmpPath("replay_outB"))
    dirs.foreach { p =>
      val d = new java.io.File(p)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    val Seq(storeA, outA, storeB, outB) = dirs
    val cfg = StreamingCuration.Config()
    // clean fold
    StreamingCuration.curateBatch(b0, storeA, None, "doc_id", "text", cfg,
      batchId = 0L, outPath = Some(outA))
    StreamingCuration.curateBatch(b1, storeA, None, "doc_id", "text", cfg,
      batchId = 1L, outPath = Some(outA))
    // crashed fold: batch 0 commits fully; batch 1's first attempt dies
    // AFTER writing its fingerprint delta but BEFORE everything else
    StreamingCuration.curateBatch(b0, storeB, None, "doc_id", "text", cfg,
      batchId = 0L, outPath = Some(outB))
    b1.select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$storeB/fingerprints/batch=1")
    // retry of batch 1 with the same batchId
    StreamingCuration.curateBatch(b1, storeB, None, "doc_id", "text", cfg,
      batchId = 1L, outPath = Some(outB))
    def rows(p: String): Set[(Long, String, String)] =
      spark.read.parquet(p).select(col("doc_id"), col("text"), col("split"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
    val clean = rows(outA)
    val replayed = rows(outB)
    assert(replayed === clean, "retry must reproduce the clean fold exactly")
    assert(replayed.map(_._1).contains(11L),
      "the crashed batch's unique doc must survive its own stale delta")
    assert(!replayed.map(_._1).contains(12L), "cross-batch dup still drops")
    // state parity: the retried store holds the same fingerprint set
    val fpA = spark.read.parquet(s"$storeA/fingerprints")
      .select(col("fp")).collect().map(_.getLong(0)).toSet
    val fpB = spark.read.parquet(s"$storeB/fingerprints")
      .select(col("fp")).collect().map(_.getLong(0)).toSet
    assert(fpA === fpB)
  }

  test("curation state store works through a file: URI (Hadoop FS, no raw-File fallback)") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-7 verdict item 1: state-delta discovery must go through the
    // Hadoop FileSystem API. A java.io.File fallback would treat the
    // "file:/..." URI as a relative local path, find no deltas, and batch
    // 1 would silently re-admit batch 0's duplicate.
    val localDir = tmpPath("streamuri_store")
    val d = new java.io.File(localDir)
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val storePath = s"file:$localDir"
    val cfg = StreamingCuration.Config()
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (2L, "exact duplicate content appearing in both batches here", "web"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq(
      (11L, "a fresh unique document about catalyst optimizer rules", "web"),
      (12L, "exact duplicate content appearing in both batches here", "web"))
      .toDF("doc_id", "text", "source")
    val k0 = StreamingCuration.curateBatch(b0, storePath, None, "doc_id",
      "text", cfg, batchId = 0L)
    val k1 = StreamingCuration.curateBatch(b1, storePath, None, "doc_id",
      "text", cfg, batchId = 1L)
    assert(k0.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(k1.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L),
      "cross-batch exact dup must drop — state read through the file: URI")
  }

  test("curation state store fails fast on a legacy flat (non-batch=) layout") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-7 ADVICE: a store written by the old append-mode layout (flat
    // part files under fingerprints/) must not be silently read as EMPTY
    // state — that would re-admit every previously-seen doc with no error.
    val storePath = tmpPath("streamflat_store")
    val d = new java.io.File(storePath)
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    Seq(123456789L).toDF("fp")
      .write.mode("overwrite").parquet(s"$storePath/fingerprints")
    val b = Seq((1L, "some document text here", "web"))
      .toDF("doc_id", "text", "source")
    val ex = intercept[IllegalStateException] {
      StreamingCuration.curateBatch(b, storePath, None, "doc_id", "text",
        StreamingCuration.Config(), batchId = 0L)
    }
    assert(ex.getMessage.contains("flat"),
      s"error must name the layout problem, got: ${ex.getMessage}")
  }

  test("curation state compaction folds deltas to one snapshot; retry after compaction replays") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-7 verdict item 3: batch-delta layout decays into small files;
    // compactState(upToBatch) folds committed deltas into batch=-1 without
    // changing any later batch's result — including a RETRIED batch whose
    // crashed first attempt half-wrote a delta before the compaction ran.
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog today", "web"),
        (2L, "exact duplicate content appearing in many batches here", "web")),
      Seq((11L, "a fresh unique document about catalyst optimizer rules", "web"),
        (12L, "exact duplicate content appearing in many batches here", "web")),
      Seq((21L, "columnar storage layouts and adaptive execution notes", "web"),
        (22L, "exact duplicate content appearing in many batches here", "web")))
      .map(_.toDF("doc_id", "text", "source"))
    val b3 = Seq(
      (31L, "final unique document on shuffle partitioning strategies", "web"),
      (32L, "exact duplicate content appearing in many batches here", "web"))
      .toDF("doc_id", "text", "source")
    val dirs = Seq(tmpPath("compact_storeA"), tmpPath("compact_storeB"))
    dirs.foreach { p =>
      val dd = new java.io.File(p)
      if (dd.exists()) {
        java.nio.file.Files.walk(dd.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    val Seq(storeA, storeB) = dirs
    val cfg = StreamingCuration.Config()
    def keptIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // store A: no compaction (the reference fold)
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.curateBatch(b, storeA, None, "doc_id", "text", cfg,
        batchId = i.toLong)
    }
    val cleanB3 = keptIds(StreamingCuration.curateBatch(b3, storeA, None,
      "doc_id", "text", cfg, batchId = 3L))
    // store B: same three batches, then batch 3's first attempt crashes
    // after half-writing its fingerprint delta; compaction runs; retry.
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.curateBatch(b, storeB, None, "doc_id", "text", cfg,
        batchId = i.toLong)
    }
    b3.select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$storeB/fingerprints/batch=3")
    StreamingCuration.compactState(spark, storeB, upToBatch = 3L)
    // deltas 0..2 folded to the batch=-4 generation snapshot; the
    // in-flight batch=3 delta survives
    val fpDirs = new java.io.File(s"$storeB/fingerprints").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(fpDirs === Set("batch=-4", "batch=3"),
      s"expected one snapshot + the in-flight delta, got $fpDirs")
    val retriedB3 = keptIds(StreamingCuration.curateBatch(b3, storeB, None,
      "doc_id", "text", cfg, batchId = 3L))
    assert(retriedB3 === cleanB3,
      "retry after compaction must equal the uncompacted fold")
    assert(retriedB3 === Set(31L), "only the genuinely new doc survives")
    // state parity after the retry commits
    val fpA = spark.read.parquet(s"$storeA/fingerprints")
      .select("fp").collect().map(_.getLong(0)).toSet
    val fpB = spark.read.parquet(s"$storeB/fingerprints")
      .select("fp").collect().map(_.getLong(0)).toSet
    assert(fpA === fpB)
    // compacting again (now including batch 3) is idempotent-safe and
    // moves to a strictly lower generation
    StreamingCuration.compactState(spark, storeB, upToBatch = 4L)
    val fpB2 = spark.read.parquet(s"$storeB/fingerprints")
      .select("fp").collect().map(_.getLong(0)).toSet
    assert(fpB2 === fpA)
    val fpDirs2 = new java.io.File(s"$storeB/fingerprints").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(fpDirs2 === Set("batch=-5"), s"got $fpDirs2")
    // a crashed-then-partially-cleaned compaction retries safely: simulate
    // a leftover delta surviving next to the complete snapshot
    Seq(31L).toDF("doc_id").select(lit(999L).as("fp"))
      .write.parquet(s"$storeB/fingerprints/batch=10")
    StreamingCuration.compactState(spark, storeB, upToBatch = 11L)
    val fpB3 = spark.read.parquet(s"$storeB/fingerprints")
      .select("fp").collect().map(_.getLong(0)).toSet
    assert(fpB3 === fpA + 999L)
    // a PARTIAL snapshot from a crashed attempt (markerless — _SUCCESS may
    // be disabled cluster-wide, so completeness is never inferred from it)
    // is by construction a subset of surviving sources: the next
    // compaction folds it in and deletes it, losing nothing
    val partial = s"$storeB/fingerprints/batch=-30"
    spark.read.parquet(s"$storeB/fingerprints").select("fp").limit(2)
      .coalesce(1).write.parquet(partial)
    new java.io.File(partial, "_SUCCESS").delete()
    StreamingCuration.compactState(spark, storeB, upToBatch = 11L)
    assert(!new java.io.File(partial).exists(), "partial snapshot not folded")
    val fpB4 = spark.read.parquet(s"$storeB/fingerprints")
      .select("fp").collect().map(_.getLong(0)).toSet
    assert(fpB4 === fpB3, "fold of a subset snapshot must change nothing")
  }

  test("sessionize emits both sessions when a gap splits inside one batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingAgg.Event]
    // base offset keeps every ts strictly above the initial watermark (0):
    // a row with ts == watermark is dropped by the stateful late-row filter
    def ev(id: Long, tMin: Long, user: Long, v: Double) =
      StreamingAgg.Event(id, new java.sql.Timestamp((tMin + 10) * 60000L), user, "click", v)
    // user 1: two sessions split by a 2h gap, all inside ONE micro-batch;
    // user 99's much-later event drives the watermark past session B's
    // timeout so the event-time timeout can fire in the no-data batch
    input.addData(
      ev(1, 0, 1, 1.0), ev(2, 1, 1, 2.0), // session A: [10min, 11min]
      ev(3, 120, 1, 3.0), ev(4, 121, 1, 4.0), // session B: [2h10, 2h11]
      ev(5, 600, 99, 0.5)) // watermark driver (10h)
    val sessions = StreamingAgg.sessionize(input.toDS(),
      gapMillis = 60 * 60 * 1000L, watermarkDelay = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sess_split")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess_split").as[StreamingAgg.SessionOut].collect()
      val u1 = out.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(u1.length == 2, s"expected 2 sessions for user 1, got ${u1.toSeq}")
      assert(u1(0).n_events == 2 && u1(0).sum_value == 3.0, s"session A wrong: ${u1(0)}")
      assert(u1(1).n_events == 2 && u1(1).sum_value == 7.0, s"session B wrong: ${u1(1)}")
    } finally q.stop()
  }

  test("reconcileKept re-collapses a chain whose connector was dropped: post-pass kept set equals the batch pipeline") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-8 verdict item 8. Chain A~B, B~C, A≁C built from a 40-word
    // base: B swaps word 10, C swaps words 10 and 25 — one swapped word
    // changes 3 of 38 trigram shingles, so J(A,B)=J(B,C)=35/41≈0.854≥0.8
    // and J(A,C)=32/44≈0.727<0.8. Arrival A, C, B: C survives (≁A), B
    // matches BOTH and is dropped — the greedy fold keeps {A, C} where
    // the one-shot batch pipeline's component collapse keeps only A.
    val base = (0 until 40).map(i => s"tok$i").toArray
    def doc(swaps: (Int, String)*): String = {
      val w = base.clone()
      swaps.foreach { case (i, t) => w(i) = t }
      w.mkString(" ")
    }
    val a = (1L, doc(), "web")
    val b = (3L, doc(10 -> "altb"), "web")
    val c = (2L, doc(10 -> "altb", 25 -> "altc"), "web")
    val store = tmpPath("reconcile_store")
    val cfg = StreamingCuration.Config()
    StreamingCuration.curateBatch(Seq(a).toDF("doc_id", "text", "source"),
      store, None, "doc_id", "text", cfg, batchId = 0L)
    StreamingCuration.curateBatch(Seq(c).toDF("doc_id", "text", "source"),
      store, None, "doc_id", "text", cfg, batchId = 1L)
    StreamingCuration.curateBatch(Seq(b).toDF("doc_id", "text", "source"),
      store, None, "doc_id", "text", cfg, batchId = 2L)
    def keptState(): Set[Long] = spark.read
      .parquet(s"$store/kept").select("id").collect().map(_.getLong(0)).toSet
    def tombstones(): Set[Long] = spark.read
      .parquet(s"$store/retractions").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(keptState() === Set(1L, 2L),
      "precondition: the greedy fold over-keeps the chain end")
    val dropped = StreamingCuration.reconcileKept(spark, store,
      upToBatch = 3L).collect().map(_.getLong(0)).toSet
    assert(dropped === Set(2L), "reconcile must retract the over-kept end")
    assert(tombstones() === Set(2L))
    // TOMBSTONE semantics: the state tables keep the evidence (a future
    // arrival near-dupping only doc 2 must still match and drop) — the
    // EFFECTIVE kept set (kept ∖ tombstones) equals the batch pipeline's
    assert(keptState() === Set(1L, 2L), "state keeps the evidence")
    assert(spark.read.parquet(s"$store/bands").filter(col("id") === 2L)
      .count() > 0L, "retracted doc's bands stay as dedup evidence")
    val batchKept = graft.operators.CurationPipeline.run(
        Seq(a, b, c).toDF("doc_id", "text", "source"), None,
        "doc_id", "text", "source", graft.operators.CurationPipeline.Config())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptState() -- tombstones() === batchKept && batchKept === Set(1L),
      s"effective kept must equal batch ${batchKept}")
    // idempotent: a second pass retracts nothing new, tombstones unchanged
    assert(StreamingCuration.reconcileKept(spark, store, upToBatch = 3L)
      .count() === 0L)
    assert(tombstones() === Set(2L))
    // evidence preserved: a batch-4 doc near-dup ONLY to the RETRACTED
    // doc 2 is still dropped and its edge logged — exactly the one-shot
    // batch pipeline's decision (2 is in ITS corpus too)
    val dNear = (11L, doc(10 -> "altb", 25 -> "altc", 30 -> "altd"), "web")
    val k3 = StreamingCuration.curateBatch(
      Seq(dNear).toDF("doc_id", "text", "source"), store, None, "doc_id",
      "text", cfg, batchId = 3L)
    assert(k3.isEmpty, "doc near-dup to a retracted doc must still drop")
    // a component whose minimum was NEVER kept keeps its minimum KEPT
    // member: doc 0 (< all ids) arrives now as a NEAR-dup of kept doc 1
    // (one swapped word — an exact dup would be caught by the
    // fingerprint stage and log no edge), drops, logs edge (0,1) —
    // reconcile must NOT retract doc 1 (retracting everything but the
    // never-emitted doc 0 would leave the component with no survivor)
    val zero = (0L, doc(35 -> "altz"), "web")
    StreamingCuration.curateBatch(Seq(zero).toDF("doc_id", "text", "source"),
      store, None, "doc_id", "text", cfg, batchId = 4L)
    assert(StreamingCuration.reconcileKept(spark, store, upToBatch = 5L)
      .count() === 0L,
      "min KEPT member is the representative — never retract it for an" +
        " un-emitted smaller id")
    assert(keptState() -- tombstones() === Set(1L))
  }

  test("runStream wires reconcileEvery: retractions land under the store on the cadence") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingCuration
    // same A~B~C chain as the direct-API case, driven through the real
    // foreachBatch sink with reconcileEvery = 1: the pass before batch 3
    // retracts the over-kept chain end and records it under retractions/
    val base = (0 until 40).map(i => s"tok$i").toArray
    def doc(swaps: (Int, String)*): String = {
      val w = base.clone()
      swaps.foreach { case (i, t) => w(i) = t }
      w.mkString(" ")
    }
    val store = tmpPath("reconcile_stream_store")
    val out = tmpPath("reconcile_stream_out")
    val cfg = StreamingCuration.Config(reconcileEvery = Some(1))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = StreamingCuration.runStream(
      input.toDF().toDF("doc_id", "text", "source"), store, out,
      None, "doc_id", "text", cfg,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      Seq(
        Seq((1L, doc(), "web")),
        Seq((2L, doc(10 -> "altb", 25 -> "altc"), "web")),
        Seq((3L, doc(10 -> "altb"), "web")),
        // batch 3 triggers the reconcile pass over batches 0..2
        Seq((11L, "an entirely different document about query planners", "web"))
      ).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val keptState = spark.read.parquet(s"$store/kept")
      .select("id").collect().map(_.getLong(0)).toSet
    val retracted = spark.read.parquet(s"$store/retractions")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(retracted === Set(2L), s"retractions must name the removed doc")
    assert(keptState -- retracted === Set(1L, 11L),
      s"stream-cadence reconcile must tombstone the chain end, kept $keptState")
    // tombstone read: the raw output still carries the retracted doc
    // (batch outputs are never rewritten); readCurated excludes it
    val raw = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(raw.contains(2L), "raw output keeps the already-emitted doc")
    val curated = StreamingCuration.readCurated(spark, store, out, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curated === raw - 2L,
      s"readCurated must apply the tombstones, got $curated")
  }

  test("reconcile compaction: star-folded edge log and folded tombstones are outcome-identical to the uncompacted store") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    // round-9 verdict item 1 + ADVICE 4. Twin stores fold the same
    // batches; one reconciles with compactPairs = true (star-fold the
    // duppairs log, fold tombstone batches), the other with false. Every
    // observable — tombstones, retraction decisions, readCurated — must
    // be row-identical; only the stored file layout may differ.
    val base = (0 until 40).map(i => s"tok$i").toArray
    def doc(pre: String, swaps: (Int, String)*): String = {
      val w = base.clone()
      swaps.foreach { case (i, t) => w(i) = t }
      w.map(t => pre + t).mkString(" ")
    }
    // two independent A~B~C chains (disjoint token spaces): arrival
    // A, C, B over-keeps C; reconcile must retract both chain ends
    val batches = Seq(
      Seq((1L, doc("p")), (11L, doc("q"))),
      Seq((2L, doc("p", 10 -> "b", 25 -> "c")),
        (12L, doc("q", 10 -> "b", 25 -> "c"))),
      Seq((3L, doc("p", 10 -> "b")), (13L, doc("q", 10 -> "b"))))
    val cfg = StreamingCuration.Config()
    val stores = Seq(tmpPath("reccomp_on"), tmpPath("reccomp_off"))
    val outs = Seq(tmpPath("reccomp_on_out"), tmpPath("reccomp_off_out"))
    def run(i: Int, compact: Boolean): Unit = {
      batches.zipWithIndex.foreach { case (b, bi) =>
        StreamingCuration.curateBatch(
          b.map { case (id, t) => (id, t, "web") }
            .toDF("doc_id", "text", "source"),
          stores(i), None, "doc_id", "text", cfg, batchId = bi.toLong,
          outPath = Some(outs(i)))
      }
      val dropped = StreamingCuration.reconcileKept(spark, stores(i),
        upToBatch = 3L, compactPairs = compact)
        .collect().map(_.getLong(0)).toSet
      assert(dropped === Set(2L, 12L), s"store $i retracted $dropped")
      // a later arrival near-dupping only a RETRACTED doc still matches
      // its kept evidence, drops, and logs the edge — on BOTH stores
      StreamingCuration.curateBatch(
        Seq((21L, doc("p", 10 -> "b", 25 -> "c", 30 -> "d"), "web"))
          .toDF("doc_id", "text", "source"),
        stores(i), None, "doc_id", "text", cfg, batchId = 3L,
        outPath = Some(outs(i)))
      // second pass: nothing new to retract; retry-idempotent
      assert(StreamingCuration.reconcileKept(spark, stores(i),
        upToBatch = 4L, compactPairs = compact).count() === 0L)
    }
    run(0, compact = true)
    run(1, compact = false)
    def tombs(i: Int): Set[Long] = spark.read
      .parquet(s"${stores(i)}/retractions").select("id")
      .collect().map(_.getLong(0)).toSet
    def curated(i: Int): Set[Long] =
      StreamingCuration.readCurated(spark, stores(i), outs(i), "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tombs(0) === tombs(1) && tombs(0) === Set(2L, 12L))
    assert(curated(0) === curated(1),
      s"compacted ${curated(0)} vs uncompacted ${curated(1)}")
    assert(curated(0) === Set(1L, 11L))
    def dirCount(p: String): Int = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(hp)) 0
      else fs.listStatus(hp).count(_.getPath.getName.startsWith("batch="))
    }
    // the compacted store's edge log folded to ONE snapshot partition
    // (the second reconcile folded the post-fold batch-3 delta too);
    // the uncompacted store kept every per-batch delta
    assert(dirCount(s"${stores(0)}/duppairs") === 1,
      "star fold must leave one snapshot")
    assert(dirCount(s"${stores(1)}/duppairs") === 4)
    // tombstones fold to one directory on both (recordRetractions is
    // stage-then-sweep everywhere — the crash window ADVICE closed)
    assert(dirCount(s"${stores(0)}/retractions") === 1)
    assert(dirCount(s"${stores(1)}/retractions") === 1)
    // the star snapshot preserved chain evidence THROUGH dropped
    // connectors: a fresh doc near-dup only to the (dropped) chain
    // middle still reconciles into the component on the compacted store
    val keptB4 = spark.read.parquet(s"${stores(0)}/kept")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptB4 -- tombs(0) === Set(1L, 11L))
  }
}
