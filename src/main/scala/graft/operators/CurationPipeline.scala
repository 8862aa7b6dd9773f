package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end corpus curation pipeline — the composition every
  * pretraining data job runs, wired from the individual operators so a
  * user gets the whole flow in one call (and so operator composition is
  * itself tested):
  *
  *   1. exact dedup (normalized fingerprint, keep min-id)
  *   2. near-dedup (MinHash-LSH pairs → clusters → keep representative),
  *      optionally followed by SemDeDup over an embedding column
  *   3. test-set decontamination (broadcast eval n-gram probe)
  *   4. quality filter (heuristic score threshold)
  *   5. corpus mixing (per-source keep rates, HT weight attached)
  *   6. deterministic train/val/test split
  *
  * Every stage is a deterministic, shuffle-minimal transformation (each
  * one's scale shape documented at its definition); the pipeline adds
  * `quality`, `n_tokens`, `mix_step`, `split` columns and drops rows, never
  * reorders semantics. Stages toggle off via their config; the result is a
  * plain DataFrame to write/pack downstream.
  *
  * For a crawl-drop TRIAGE flow (select what to ingest, rather than scrub
  * what was ingested), the recommended recipe composes the span/winnow/
  * DSIR operators instead: [[Dedup.removeDuplicatedSpans]] (keep-first) →
  * [[Dedup.winnowContainmentPairs]] triage (drop the smaller side of any
  * mostly-contained pair) → [[graft.operators.Dsir.select]] toward the
  * target distribution. That composition is itself hash-gated end-to-end
  * as inventory query `q193_curation_recipe` (InventoryScale.scala), with
  * per-stage row accounting, so regressions in the composition — not just
  * the operators — get caught.
  */
object CurationPipeline {

  /** Optional media-feature stage config ([[Config.mediaFeatures]]):
    * [[Multimodal.extractFeatures]] over (`kindCol`, `bytesCol`) attaches
    * an `outCol` Array[Float] column of `dim` features per doc — decoded
    * pooling for image/audio/video bytes, plugged [[MediaEmbedder]]
    * inference (or the deterministic stub) for everything else. Point
    * [[Config.semanticDedup]] at `outCol` to dedup on the extracted
    * features. */
  case class MediaFeatures(kindCol: String = "kind",
      bytesCol: String = "bytes", dim: Int = 16,
      outCol: String = "media_vec")

  /** Pipeline configuration; defaults mirror common pretraining settings.
    * `semanticDedup` (off by default — needs an embedding column) inserts
    * an [[Ann.semDedup]] stage after the text near-dedup: (vecCol,
    * cosine threshold, numCentroids). `temperature` = (α, scale) replaces
    * step-based mixing with [[Mixing.temperatureMix]] — mutually exclusive
    * with `mixSteps`. */
  case class Config(
      lineDedupSegmentWords: Option[Int] = None,
      nearDupThreshold: Double = 0.8,
      decontaminateNgram: Int = 3,
      minQuality: Double = 0.0,
      mixSteps: Map[String, Long] = Map.empty,
      mixDefaultStep: Long = 1L,
      splitWeights: Seq[(String, Long)] =
        Seq("train" -> 98L, "val" -> 1L, "test" -> 1L),
      semanticDedup: Option[(String, Double, Int)] = None,
      temperature: Option[(Double, Double)] = None,
      /** keep only docs the hashed linear scorer accepts (margin cents >
        * this threshold) — the model-based filter stage complementing the
        * rule-based `minQuality`; None disables the stage. */
      modelFilterMinMarginCents: Option[Long] = None,
      /** ALSO scrub near-duplicates of eval docs (whole-doc shingle
        * Jaccard ≥ this threshold, [[Decontam.decontaminateFuzzy]]) after
        * the exact n-gram probe — paraphrase/template leakage the n-gram
        * probe dilutes; None disables the stage. Requires `eval`. */
      fuzzyDecontaminateThreshold: Option[Double] = None,
      /** EXACT per-source split proportions ([[Mixing
        * .stratifiedSplitExact]]) instead of the default hash-expectation
        * assignment — integer cutoffs per source, so small sources never
        * randomly lose their val/test slices. Costs one extra
        * source-keyed exchange + window sort. */
      exactSplitBySource: Boolean = false,
      /** ALSO excise exact duplicated SPANS (ExactSubstr k-gram form,
        * [[Dedup.removeDuplicatedSpans]] with the keep-first policy — the
        * one that folds incrementally) before near-dedup, the same
        * ordering rationale as line dedup: shared boilerplate spans would
        * otherwise glue unrelated docs into near-dup clusters. Docs whose
        * every word sat in duplicated spans drop out. None disables. */
      spanDedupK: Option[Int] = None,
      /** Optional media-feature extraction stage (runs after near-dedup,
        * before semantic dedup, on the already-thinned corpus): see
        * [[MediaFeatures]]. None disables. */
      mediaFeatures: Option[MediaFeatures] = None,
      /** Plugged codec bindings for the media stage's video leg — the
        * [[graft.operators.FrameDecoder]] seam, reachable here so a
        * deployment configures it once instead of touching operator call
        * sites (round-13 verdict item 6). */
      frameDecoders: Seq[graft.operators.FrameDecoder] = Nil,
      /** Plugged learned-embedding inference for the media stage's
        * fallback leg — the [[graft.operators.MediaEmbedder]] seam. */
      mediaEmbedder: Option[graft.operators.MediaEmbedder] = None)

  /** The pipeline as an ordered list of named stage transforms — the single
    * definition both [[run]] (lazy composition) and [[runStaged]]
    * (materialize-and-time per stage) execute, so the attribution can never
    * drift from the real flow. */
  private def stageList(eval: Option[DataFrame], idCol: String,
      textCol: String, sourceCol: String,
      config: Config): Seq[(String, DataFrame => DataFrame)] = {
    require(config.temperature.isEmpty ||
      (config.mixSteps.isEmpty && config.mixDefaultStep == 1L),
      "configure mixSteps or temperature, not both")
    // 1. exact dedup on the normalized fingerprint: one hash aggregation.
    //    min_by(row, id) per fingerprint — the round-14 shape: map-side
    //    partial aggregation collapses duplicate copies BEFORE the
    //    exchange and nothing is sorted, where the previous
    //    row_number-window form shuffled every full row by fingerprint
    //    and sorted each partition. Identical survivor set (ids are
    //    unique, so "min id per fingerprint" has no ties).
    val exact: DataFrame => DataFrame = { docs =>
      val cols = docs.columns.toSeq
      docs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
        .groupBy(col("__fp"))
        .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
        .select(cols.map(c => col(s"__r.$c")): _*)
    }
    // 1b. optional segment-level (line) dedup: strip corpus-wide repeated
    //     segments BEFORE near-dedup (the CCNet ordering — boilerplate
    //     would otherwise glue unrelated docs into near-dup clusters).
    //     One doc-keyed join to swap the text in place; docs whose every
    //     segment was boilerplate drop out.
    val lineDedup: Option[(String, DataFrame => DataFrame)] =
      config.lineDedupSegmentWords.map { sw =>
        "line_dedup" -> ((df: DataFrame) => {
          val dd = Dedup.segmentDedup(df, idCol, textCol, segmentWords = sw)
            .select(col(idCol), col("n_kept"), col("text_deduped"))
          df.drop(textCol)
            .join(dd.filter(col("n_kept") > 0), Seq(idCol))
            .withColumnRenamed("text_deduped", textCol)
            .drop("n_kept")
        })
      }
    // 1c. optional duplicated-SPAN excision (ExactSubstr, keep-first):
    //     swap in the span-scrubbed text before near-dedup; fully-covered
    //     docs drop (an empty text would only fail quality later anyway,
    //     and line dedup sets the same precedent)
    val spanDedup: Option[(String, DataFrame => DataFrame)] =
      config.spanDedupK.map { k =>
        "span_dedup" -> ((df: DataFrame) => {
          val dd = Dedup.removeDuplicatedSpans(df, idCol, textCol, k,
              keepFirst = true)
            .select(col(idCol), col("clean_text"), col("n_words"),
              col("n_removed"))
          df.drop(textCol)
            .join(dd.filter(col("n_removed") < col("n_words")), Seq(idCol))
            .withColumnRenamed("clean_text", textCol)
            .drop("n_words", "n_removed")
        })
      }
    // 2. near-dedup via MinHash-LSH clustering
    val near: DataFrame => DataFrame = df => Dedup.dropNearDups(df, idCol,
      textCol, threshold = config.nearDupThreshold)
    // 4. quality annotation + filter
    val quality: DataFrame => DataFrame = df => df
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .filter(col("quality") >= config.minQuality)
    // 4b. optional model-based filter (hashed linear scorer) — like the
    //     rule filter, a pure scan-stage predicate: no shuffle added
    val modelFilter: Option[(String, DataFrame => DataFrame)] =
      config.modelFilterMinMarginCents.map { mn =>
        "model_filter" -> ((df: DataFrame) =>
          df.filter(QualityModel.marginCents(col(textCol)) > lit(mn)))
      }
    // 5. per-source mixing (explicit steps with HT weight, or α-temperature
    //    rebalance) + 6. deterministic split
    val mixSplit: DataFrame => DataFrame = { scored =>
      val mixed = config.temperature match {
        case Some((alpha, scale)) =>
          Mixing.temperatureMix(scored, idCol, sourceCol, alpha, scale)
        case None if config.mixSteps.isEmpty && config.mixDefaultStep == 1L =>
          scored
        case None =>
          Mixing.corpusMix(scored, idCol, sourceCol, config.mixSteps,
            config.mixDefaultStep)
      }
      if (config.exactSplitBySource)
        Mixing.stratifiedSplitExact(mixed, idCol, sourceCol,
          config.splitWeights)
      else Mixing.splitAssign(mixed, idCol, config.splitWeights)
    }
    // 2a. optional media-feature extraction: scan-stage mapPartitions
    //     over the bytes (decoded pooling / plugged embedder / stub —
    //     [[Multimodal.extractFeatures]]'s never-throws contract), one
    //     id-keyed join to attach the vector column. Runs on the
    //     near-deduped corpus so undecoded bytes are hashed once per
    //     SURVIVING doc, and feeds semanticDedup below when it targets
    //     the same column.
    val mediaFeats: Option[(String, DataFrame => DataFrame)] =
      config.mediaFeatures.map { mf =>
        "media_features" -> ((df: DataFrame) => {
          val feats = Multimodal.extractFeatures(
            df.select(col(idCol).cast("long").as("media_id"),
              col(mf.kindCol).as("kind"), col(mf.bytesCol).as("bytes")),
            dim = mf.dim, embedder = config.mediaEmbedder,
            decoders = config.frameDecoders)
            .toDF()
            .select(col("media_id").as(idCol), col("feature").as(mf.outCol))
          df.join(feats, Seq(idCol)) // 1:1 by construction (same rows)
        })
      }
    Seq("exact_dedup" -> exact) ++ lineDedup ++ spanDedup ++
      Seq("near_dedup" -> near) ++ mediaFeats ++
      // 2b. optional semantic dedup over an embedding column (SemDeDup)
      config.semanticDedup.map { case (vecCol, threshold, k) =>
        "sem_dedup" -> ((df: DataFrame) =>
          Ann.semDedup(df, idCol, vecCol, threshold, numCentroids = k))
      } ++
      // 3. decontamination against the eval set
      eval.map { ev =>
        "decontaminate" -> ((df: DataFrame) =>
          Decontam.decontaminate(df, ev, idCol, textCol,
            n = config.decontaminateNgram))
      } ++
      // 3b. optional fuzzy (near-dup) decontamination — after the exact
      //     probe so the LSH pass sees the already-thinned corpus
      (for (ev <- eval; t <- config.fuzzyDecontaminateThreshold) yield
        "fuzzy_decontaminate" -> ((df: DataFrame) =>
          Decontam.decontaminateFuzzy(df, ev, idCol, textCol,
            threshold = t))) ++
      Seq("quality" -> quality) ++ modelFilter ++ Seq("mix_split" -> mixSplit)
  }

  /** Stage outputs that downstream stages consume MORE THAN ONCE (the
    * text-swap joins read their input twice; dropNearDups reads its input
    * three times — bands, verify semi-join, anti-join; decontaminate reads
    * twice). Without a checkpoint every extra consumer re-runs the whole
    * upstream pipeline — the fused withspan flow was re-computing the
    * exact-dedup aggregate up to 6× (round-14 measurement: fused 8.2 s vs
    * ≈ 2 s of actual stage work). */
  private val stagedStages =
    Set("exact_dedup", "line_dedup", "span_dedup", "near_dedup")

  /** Run the full curation flow over `docs(idCol, textCol, sourceCol, …)`;
    * `eval` is the held-out benchmark set to scrub against (pass an empty
    * DataFrame with the same two columns to skip decontamination).
    *
    * Multi-consumer stage outputs are EAGERLY checkpointed
    * ([[stagedStages]]); intermediates made dead by a later checkpoint are
    * released before returning, and the LAST staged frame (near_dedup)
    * stays — the returned frame reads its blocks, and they are freed by
    * the ContextCleaner when the result becomes unreachable (the same
    * contract as [[Dedup.nearDupPairs]]' result). */
  def run(docs: DataFrame, eval: Option[DataFrame], idCol: String,
      textCol: String, sourceCol: String,
      config: Config = Config()): DataFrame = {
    import graft.Checkpoints.StageOps
    graft.Checkpoints.staging { st =>
      stageList(eval, idCol, textCol, sourceCol, config)
        .foldLeft(docs) { case (df, (name, f)) =>
          val out = f(df)
          if (name == "near_dedup") out.staged // kept: result reads it
          else if (stagedStages(name)) st.track(out.staged)
          else out
        }
    } // tracked stages released here: near_dedup's checkpoint cut their lineage
  }

  /** [[run]] with per-stage wall-clock attribution: each stage output is
    * persisted and counted before the next stage starts, so each timing
    * isolates one stage and the timings sum to ≈ the fused total (plus
    * materialization overhead). Intermediates are unpersisted before
    * returning — the timings are the product; re-running the returned
    * frame recomputes the pipeline. One run, not a median: this is the
    * attribution companion to the fused `x_pipeline_sec` regression number,
    * not a benchmark of its own. */
  def runStaged(docs: DataFrame, eval: Option[DataFrame], idCol: String,
      textCol: String, sourceCol: String,
      config: Config = Config()): (DataFrame, Seq[(String, Double)]) = {
    val timings = Seq.newBuilder[(String, Double)]
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    var cur = docs
    stageList(eval, idCol, textCol, sourceCol, config).foreach {
      case (name, f) =>
        val t0 = System.nanoTime()
        val next = f(cur).persist()
        next.count()
        timings += name -> (System.nanoTime() - t0) / 1e9
        cached += next
        cur = next
    }
    cached.foreach(_.unpersist(blocking = false))
    (cur, timings.result())
  }
}
