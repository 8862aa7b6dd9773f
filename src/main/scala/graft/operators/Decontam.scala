package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps

/** Test-set decontamination — find training documents that share n-grams
  * with an evaluation set (the GPT-3 / Gopher / Llama pretraining hygiene
  * step: any train doc overlapping a benchmark answer is flagged or
  * dropped). Not in the reference (north-star surface, SURVEY §7 M7).
  *
  * Scale shape: the eval set is small by construction (benchmarks are
  * thousands of docs; the corpus is billions), so its distinct-n-gram set
  * is built once and BROADCAST — the 100 TB train side never shuffles for
  * the probe. Per-train-doc overlap counts then ride one hash aggregation
  * keyed on doc id with map-side partial combine. Cost: one train scan +
  * one broadcast; no train-side shuffle besides the per-doc count.
  */
object Decontam {

  /** Per-row distinct word n-grams: (idCol, gram). One Generate (explode)
    * per row, no shuffle; the gram array comes from the native
    * [[graft.functions.WordNgrams]] kernel (one precompiled loop in the
    * scan stage — 3–4× the interpreted higher-order form, measured at
    * sf0.1). [[docNgramsFold]] is the declarative twin it is spec-locked
    * to. */
  def docNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1)
    import org.apache.spark.sql.graftshim.ColumnShim
    val grams = ColumnShim.column(graft.functions.WordNgrams(
      ColumnShim.expression(col(textCol)), n))
    df.select(col(idCol), explode(grams).as("gram"))
  }

  /** Interpreted higher-order-function form of [[docNgrams]] (the
    * semantics statement; kept for the equality spec and as executable
    * documentation). */
  def docNgramsFold(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1)
    val toks = split(col(textCol), " +")
    val grams = array_distinct(
      if (n == 1) toks
      else {
        // slide an n-window via transform over start indices 0..len-n;
        // docs shorter than n tokens get NO grams (sequence(0, -1) would
        // count DOWN in Spark, so guard with an empty array instead)
        val starts = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
          .otherwise(array().cast("array<int>"))
        transform(starts, i => array_join(slice(toks, i + 1, lit(n)), " "))
      })
    df.select(col(idCol), explode(grams).as("gram"))
  }

  /** Contamination report: for every train doc sharing at least one n-gram
    * with the eval set, `(idCol, n_overlap, n_grams)` — the count of its
    * distinct n-grams that appear anywhere in eval, and its total distinct
    * n-gram count (so callers threshold on the overlap fraction in exact
    * integer arithmetic: drop when `n_overlap * 100 >= pct * n_grams`).
    *
    * `eval` is broadcast (see object scaladoc); pass `broadcastEval=false`
    * only if the eval side is genuinely too big, which degrades to a
    * shuffle join on the gram key. */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, broadcastEval: Boolean = true): DataFrame = {
    // round-14: gram matching runs on 64-bit gram hashes (the
    // [[graft.operators.Dedup.shingleHashes64]] scan kernel) — the eval
    // probe set broadcasts as 8-byte longs instead of gram strings and
    // the join compares longs (guide §2.3/§3). Distinct-per-doc is the
    // kernel's contract, so counts match docNgrams' exactly unless two
    // distinct grams collide in 64 bits (P ≈ V²·2⁻⁶⁵; the tri-scale
    // DuckDB oracle replays exact string semantics and gates it).
    val gramHashes = (f: DataFrame) => f.select(col(idCol),
      explode(Dedup.shingleHashes64(col(textCol), n)).as("__gh"))
    val evalGrams = gramHashes(eval)
      .select(col("__gh")).distinct()
      .withColumn("__hit", lit(1L))
    val probe = if (broadcastEval) broadcast(evalGrams) else evalGrams
    // ONE explode pass: left-join every train gram against the broadcast
    // eval set, then count total and matched grams in the same aggregation
    // (map-side combine absorbs the gram fan-out before the id shuffle) —
    // the two-branch total/overlap form would explode the corpus twice
    gramHashes(train)
      .join(probe, Seq("__gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .select(col(idCol), col("n_overlap"), col("n_grams"))
  }

  /** Contamination ATTRIBUTION: for every train doc sharing n-grams with
    * the eval set, WHICH eval doc it shares the most with —
    * `(idCol, eval_id, n_shared)` (ties → lowest eval id). The report a
    * decontamination run actually ships: "these 412 train docs leak
    * benchmark X" is actionable, a bare overlap count is not.
    *
    * Scale shape: same broadcast-probe scan as [[contamination]], but the
    * eval grams keep their doc id; the (train, eval) pair counts ride one
    * hash aggregation (bounded by REAL overlap pairs, not the cross
    * product), and the per-train argmax is a top-1 window Spark executes
    * with per-partition group limits (no global sort). */
  def contaminationAttribution(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evalGrams = broadcast(
      docNgrams(eval, idCol, textCol, n)
        .select(col(idCol).as("eval_id"), col("gram")))
    docNgrams(train, idCol, textCol, n)
      .join(evalGrams, Seq("gram"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("n_shared").desc, col("eval_id").asc)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Contamination rollup by `srcCol` — the "which SOURCE leaks the
    * benchmark" matrix a curation run reads before deciding what to
    * re-crawl or drop wholesale: per source, doc counts, how many docs
    * overlap the eval set past `maxOverlapPct`, the total overlapping
    * gram mass, and the contaminated-docs rate in exact-integer ppm.
    * Same broadcast-probe scan as [[contamination]] (train side still
    * never shuffles for the probe), then one ≤ |sources| aggregate. */
  def contaminationBySource(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, srcCol: String, n: Int = 3,
      maxOverlapPct: Int = 0): DataFrame = {
    val flagged = contamination(train, eval, idCol, textCol, n)
      .filter(col("n_overlap") * 100 > lit(maxOverlapPct.toLong) * col("n_grams"))
    val docSrc = train.select(col(idCol), col(srcCol))
    val tot = docSrc.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
    val cont = flagged.join(docSrc, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("__nc"), sum(col("n_overlap")).as("__og"))
    tot.join(cont, Seq(srcCol), "left")
      .select(col(srcCol), col("n_docs"),
        coalesce(col("__nc"), lit(0L)).as("n_contaminated"),
        coalesce(col("__og"), lit(0L)).as("n_overlap_grams"))
      .withColumn("contaminated_ppm",
        expr("n_contaminated * 1000000 div n_docs"))
  }

  /** Drop contaminated train docs: remove any doc whose eval-overlapping
    * n-grams exceed `maxOverlapPct` percent of its distinct n-grams
    * (0 = drop on any overlap). Anti-join against the flagged id set —
    * exact, and the flagged set is tiny so it broadcasts. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, maxOverlapPct: Int = 0): DataFrame = {
    val flagged = contamination(train, eval, idCol, textCol, n)
      .filter(col("n_overlap") * 100 > lit(maxOverlapPct.toLong) * col("n_grams"))
      .select(col(idCol))
    train.join(broadcast(flagged), Seq(idCol), "left_anti")
  }

  /** The eval side of [[decontaminate]] as one driver array: the sorted
    * distinct n-gram hashes ([[Dedup.shingleHashes64]]) of every eval doc.
    * The eval set is bounded by the same contract that lets
    * [[contamination]] broadcast it; a local eval frame collects with no
    * Spark job. */
  private[graft] def evalGramHashes(eval: DataFrame, textCol: String,
      n: Int): Array[Long] =
    eval.select(Dedup.shingleHashes64(col(textCol), n)).collect()
      .iterator.filterNot(_.isNullAt(0))
      .flatMap(_.getSeq[Long](0)).toArray.sorted.distinct

  /** [[decontaminate]]'s keep rule at its default `maxOverlapPct = 0` as
    * a per-row predicate: true unless the doc's n-gram hashes `grams` (a
    * [[Dedup.shingleHashes64]] array of its text) meet `evalGrams`
    * ([[evalGramHashes]]). A NULL text and a doc shorter than n tokens
    * have no grams and stay kept, as in [[decontaminate]]. No explode, no
    * shuffle, no join: the probe is a scalar in the caller's projection.
    * Pinned to [[decontaminate]] by a StreamingSpec twin. */
  private[graft] def keepUncontaminated(grams: Column,
      evalGrams: Array[Long]): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val hits = ColumnShim.column(graft.functions.SortedLongHits(
      ColumnShim.expression(grams), evalGrams))
    coalesce(hits === 0, lit(true))
  }

  /** FUZZY decontamination: drop every train doc that is a NEAR-duplicate
    * (whole-doc shingle Jaccard ≥ `threshold`) of ANY eval doc — the
    * hygiene step for paraphrased / templated / lightly-edited benchmark
    * leakage that exact n-gram overlap treats as noise. Complementary to
    * [[decontaminate]] (which catches short verbatim spans that whole-doc
    * Jaccard dilutes); real pipelines run both.
    *
    * Machinery: ONE [[Dedup.lshBands]] pass over the TAGGED UNION (train
    * id → 2·id, eval id → 2·id+1 — disjoint key spaces; ids must be
    * < 2⁶²), candidates restricted to CROSS-corpus pairs (parity differs)
    * BEFORE the verify step, verify = exact string-shingle Jaccard scoped
    * to candidates by semi-join. Same recall guarantee as q35 (16×4
    * banding at t ≥ 0.8 → pair-miss probability < 1e-6), and unlike the
    * broadcast n-gram probe this does not need the eval side to be small
    * — both sides ride the band shuffle, ∝ (train+eval)×bands. */
  def decontaminateFuzzy(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = Dedup.MaxBucket, sizePrune: Boolean = false): DataFrame = {
    val tagged = train
      .select((col(idCol) * 2).as("__fid"), col(textCol).as("__text"))
      .unionAll(eval
        .select((col(idCol) * 2 + 1).as("__fid"), col(textCol).as("__text")))
    // parityStar: an over-cap bucket stars around BOTH its min even and
    // min odd fid, so every train member keeps a candidate edge to an
    // eval-side center — the single-center star would emit only
    // same-parity edges for train members whenever the one center is a
    // train doc, and the cross-parity filter below would silently KEEP
    // train docs that are near-copies of eval docs (the contract breach
    // this flag exists to prevent).
    val crossCands = Dedup.lshCandidatePairs(tagged, "__fid", "__text",
        shingleN, numHashes, bands, maxBucket = maxBucket,
        parityStar = true)
      .filter(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)))
    // size-ratio pre-prune (lossless — see Dedup.sizePrunePairs): a train
    // doc much longer/shorter than every colliding eval doc never ships
    // its shingle-hash array into the verify joins. Benchmark leakage is
    // exactly the size-heterogeneous case (short eval items vs long train
    // docs dilute whole-doc Jaccard below threshold), so this prunes the
    // bulk of spurious cross-corpus band collisions from the sizes alone.
    val cands =
      if (sizePrune) Dedup.sizePrunePairs(crossCands, tagged, "__fid",
        "__text", shingleN, threshold).staged
      else crossCands
    val candIds = cands.select(col("id_a").as("__fid"))
      .union(cands.select(col("id_b").as("__fid"))).distinct()
    // hashed-shingle verify (same trade as Dedup.nearDupPairs: 8-byte
    // join payload + one-pass merge Jaccard, exact up to 64-bit
    // collisions — the q168 oracle replays the exact string pair set)
    val sh = tagged.join(candIds, Seq("__fid"), "left_semi")
      .select(col("__fid"), Dedup.shingleHashes64(col("__text"), shingleN).as("sh"))
    val flagged = cands
      .join(sh.select(col("__fid").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("__fid").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(Dedup.jaccardHashedGE(col("sh_a"), col("sh_b"), threshold).isNotNull)
      .select((when(pmod(col("id_a"), lit(2L)) === 0, col("id_a"))
        .otherwise(col("id_b")) / lit(2L)).cast("long").as(idCol))
      .distinct()
    train.join(flagged, Seq(idCol), "left_anti")
  }
}
