package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, Dedup}
import graft.streaming.StreamingCuration

/** `curate_stream`: one seeded planted-duplicate corpus fed in ascending id
  * order as micro-batches to `StreamingCuration.curateBatch`, and curated
  * in one shot by `CurationPipeline.run` as the warm-up and the reference
  * kept set. Ground truth (clusters, planted contamination) stays here. */
object CurateWorkloads {

  /** The batch pipeline's configuration (the `x_pipeline` lane's). */
  val PipelineConfig = CurationPipeline.Config(minQuality = 0.2,
    modelFilterMinMarginCents = Some(-1000L))
  /** The streaming twin's configuration for the same rules. */
  val StreamConfig = StreamingCuration.Config(minQuality = 0.2)
  /** Four batches, not more: each costs ~5 s of per-job floor on a 4-core
    * machine whatever its size, and a run must fit the benchmark's budget. */
  val StreamBatches = 4
  /** Compaction cadence, as `StreamingCuration.Config.compactEvery` would:
    * before every third batch, so the median batch is a plain one and
    * compaction lands in the tail. */
  val CompactEvery = 3
  /** Nominal length of one round (a whole stream) on a 4-core machine
    * (see [[Ctx.loop]]). */
  val StreamRoundSeconds = 20.0

  def writeDocs(spark: SparkSession, c: Gen.Corpus, path: String): Unit = {
    import spark.implicits._
    c.docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      .repartition(4).write.mode("overwrite").parquet(path)
  }

  /** The program's inputs: the corpus and its eval set (`doc_id % 97 == 0`). */
  def inputs(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(path)
    (docs, docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(col("doc_id"), col("text")))
  }

  def keptIds(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def cachedBlocks(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Checks every kept set must pass; returns the failures. */
  def keptChecks(c: Gen.Corpus, kept: Set[Long]): Seq[String] = {
    val input = c.docs.iterator.map(_.id).toSet
    val stray = kept -- input
    val leaked = kept intersect c.contaminated
    (if (stray.nonEmpty) Seq(s"kept ids not in the input: ${stray.take(5)}") else Nil) ++
      (if (leaked.nonEmpty) Seq(s"planted contaminated docs kept: ${leaked.take(5)}") else Nil)
  }

  def dupRecall(c: Gen.Corpus, kept: Set[Long]): Double = {
    val copies = c.plantedCopies
    (copies -- kept).size.toDouble / copies.size
  }

  /** One `CurationPipeline.run` and the kept ids. With `staged` given, the
    * RDD storage the run leaves held when it returns is recorded there. */
  def pipeline(ctx: Ctx, docs: DataFrame, eval: DataFrame,
      staged: Option[scala.collection.mutable.Buffer[Double]]): Set[Long] = {
    val t = ctx.tracer
    val out = t.span("operators.pipeline")(CurationPipeline.run(docs,
      Some(eval), "doc_id", "text", "source", PipelineConfig))
    staged.foreach(_ += storageBytes(ctx.spark) / 1e6)
    t.span("exec.collect")(keptIds(out))
  }

  /** Traced runs only, after the timed loop: what staging the pipeline
    * leaves behind, per-stage times from the pipeline's own staged runner,
    * and the LSH candidate / verify split of near-dedup from spans around
    * the two Dedup calls. */
  def attribute(ctx: Ctx, docs: DataFrame, eval: DataFrame,
      staged: Seq[Double]): Unit = {
    val t = ctx.tracer
    val rec = ctx.rec
    System.gc()
    Thread.sleep(1000) // lets the ContextCleaner act on what the GC freed
    rec.layer("checkpoints.staged_mb") = Util.median(staged)
    rec.layer("checkpoints.leftover_blocks") = cachedBlocks(ctx.spark).toDouble
    val (_, stages) = t.extra("operators.run_staged") {
      CurationPipeline.runStaged(docs, Some(eval), "doc_id", "text", "source",
        PipelineConfig)
    }
    stages.foreach { case (name, s) => rec.layer(s"operators.${name}_s") = s }
    val cands = t.extra("operators.lsh_candidates") {
      Dedup.lshCandidatePairs(docs, "doc_id", "text").count()
    }
    val verified = t.extra("operators.verify") {
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8).count()
    }
    rec.layer("operators.candidate_pairs") = cands.toDouble
    rec.layer("operators.verified_pairs") = verified.toDouble
  }

  /** Generate and write the corpus (timed as generation), then read it
    * back as the program's inputs (the set-up, three times). */
  def corpusInputs(ctx: Ctx): (Gen.Corpus, DataFrame, DataFrame) = {
    val path = s"${ctx.work}/docs"
    val c = ctx.timeGen {
      val c = Gen.corpus(ctx.seed)
      writeDocs(ctx.spark, c, path)
      c
    }
    var in: (DataFrame, DataFrame) = null
    ctx.setupReps(3) { in = inputs(ctx.spark, path) }
    (c, in._1, in._2)
  }

  def runStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val t = ctx.tracer
    val (c, docs, eval) = corpusInputs(ctx)
    // Ascending-id micro-batches of equal size and the eval set, built as
    // local frames with the generated inputs, so a batch's scans read only
    // the state store (streaming.batch_input_mb).
    val (batches, batchEval) = ctx.timeGen {
      import spark.implicits._
      val sorted = c.docs.sortBy(_.id)
      val per = (sorted.size + StreamBatches - 1) / StreamBatches
      (sorted.grouped(per).map(g => g.map(d => (d.id, d.text, d.source))
        .toDF("doc_id", "text", "source")).toIndexedSeq,
        c.docs.filter(_.id % 97 == 0).map(d => (d.id, d.text)).toDF("doc_id", "text"))
    }
    val inputBytes = c.docs.map(_.text.getBytes("UTF-8").length.toLong).sum

    val stateRoot = java.nio.file.Paths.get(ctx.work, "state").toAbsolutePath.normalize.toString
    t.storeRoot = Some(stateRoot)
    var rep = 0
    /** One full stream over the corpus into a fresh state store; returns
      * the effective kept set and the store's bytes per input byte. */
    def stream(): (Set[Long], Double) = {
      val store = s"$stateRoot/rep$rep"
      val out = s"${ctx.work}/curated/rep$rep"
      rep += 1
      batches.indices.foreach { b =>
        val compact = b > 0 && b % CompactEvery == 0
        t.op(rec, "batch", if (compact) "batch_compact" else "batch") {
          if (compact) t.span("streaming.compact")(
            StreamingCuration.compactState(spark, store, upToBatch = b))
          t.span("streaming.curate")(StreamingCuration.curateBatch(
            batches(b), store, Some(batchEval),
            "doc_id", "text", StreamConfig, batchId = b, outPath = Some(out)))
          true
        }
      }
      var kept = Set.empty[Long]
      t.op(rec, "reconcile", "reconcile") {
        t.span("streaming.reconcile")(
          StreamingCuration.reconcileKept(spark, store, upToBatch = batches.size))
        kept = t.span("streaming.read")(keptIds(
          StreamingCuration.readCurated(spark, store, out, "doc_id")))
        true
      }
      val files = Util.files(store)
      val bytes = files.values.sum
      if (t.enabled) {
        rec.layer("streaming.state_mb") = bytes / 1e6
        rec.layer("streaming.state_files") = files.size.toDouble
      }
      (kept, bytes.toDouble / inputBytes)
    }

    // warm-up: the one-shot batch pipeline on the same corpus, whose kept
    // set is also the reference the stream must reproduce
    val staged = scala.collection.mutable.ArrayBuffer.empty[Double]
    var reference = Set.empty[Long]
    ctx.warmup { reference = pipeline(ctx, docs, eval, Some(staged).filter(_ => t.enabled)) }

    val kepts = scala.collection.mutable.ArrayBuffer.empty[(Int, Set[Long])]
    val stateRatio = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.loop(StreamRoundSeconds) {
      val firstOp = rec.ops.size
      val (kept, ratio) = stream()
      kepts += firstOp -> kept
      stateRatio += ratio
      rec.items += c.docs.size
    }
    rec.values("state_bytes_per_input_byte") = stateRatio.toSeq

    val recall = kepts.map { case (firstOp, kept) =>
      val bad = keptChecks(c, kept) ++ (if (kept != reference) Seq(
        s"stream kept set differs from the batch pipeline's: " +
          s"${(kept -- reference).size} extra, ${(reference -- kept).size} missing")
        else Nil)
      bad.foreach { b =>
        rec.check("stream_kept", ok = false, b)
        ctx.failOp(rec.ops.indexWhere(o => o.id >= firstOp && o.kind == "reconcile"), b)
      }
      dupRecall(c, kept)
    }
    rec.check("stream_kept", rec.checks.forall(_._2))
    rec.values("dup_recall") = recall.toSeq
    rec.values("docs") = c.docs.size.toDouble
    if (t.enabled) attribute(ctx, docs, eval, staged.toSeq)
  }
}
