package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps

/** Deduplication operators for training-data pipelines (north-star ops; the
  * reference has no dedup — SURVEY §2.5). Four families:
  *
  *   1. exact         — hash groupBy on the raw text (one shuffle of hashes)
  *   2. fingerprint   — groupBy on a normalized rolling-hash fingerprint
  *   3. MinHash + LSH — shingle → per-row signature → band buckets →
  *                      candidate pairs → exact-Jaccard verify
  *   4. SimHash       — 64-bit per-row sketch; near-dups = small Hamming gap
  *
  * 100 TB posture: signatures/sketches are per-row *narrow* projections
  * (higher-order array expressions, no UDF on the hot path except the seed
  * constants baked into the plan). The only shuffles are groupBys on
  * (band, signature) buckets — i.e. proportional to candidate-duplicate
  * density, never O(N²). The all-pairs Jaccard join exists solely as the
  * small-data oracle twin for correctness checks.
  */
object Dedup {

  // -- shingling -----------------------------------------------------------

  /** Distinct word n-gram shingles of a text column. Runs as the native
    * codegen'd [[graft.functions.WordNgrams]] kernel (one precompiled
    * loop per doc in the scan stage — the interpreted higher-order form
    * allocates a sliced array + joined string per token and was the
    * residual hot path of the q35/q49 VERIFY stage); [[shinglesFold]] is
    * the declarative twin it is spec-locked to (PipelineSpec asserts
    * bit-equality on the corpus and edge strings). */
  def shingles(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.WordNgrams(
      ColumnShim.expression(text), n))
  }

  /** Interpreted higher-order-function form of [[shingles]] — the
    * semantics statement; test-only. */
  def shinglesFold(text: Column, n: Int = 3): Column = {
    val words = split(text, " +")
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => when(i + n <= size(words),
            concat_ws(" ", slice(words, i + lit(1), lit(n))))),
        s => s.isNotNull))
  }

  /** Exact Jaccard similarity of two shingle-set columns: |∩| / |∪| as an
    * exact small-integer ratio (bit-identical in any engine). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Sorted distinct 64-bit shingle hashes straight from the scan stage —
    * [[graft.functions.WordNgramHashes]]: the verify-side payload (8 bytes
    * per shingle through the verify joins instead of the shingle strings).
    * `pmod(element, 2^31-1)` equals [[shingleHash]] of the matching string,
    * so the MinHash path is derivable bit-for-bit from this output. */
  def shingleHashes64(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.WordNgramHashes(
      ColumnShim.expression(text), n))
  }

  /** One-pass merge Jaccard over [[shingleHashes64]] arrays
    * ([[graft.functions.SortedLongJaccard]]) — equals [[jaccard]] on the
    * corresponding string-shingle sets up to 64-bit hash collisions
    * (< 10⁻¹² per pair; the DuckDB oracle gate replays the exact string
    * answer tri-scale, so a fixture collision would fail the gate).
    * Empty/empty (0/0) yields NULL — Divide-by-zero semantics — so a
    * `>= threshold` filter drops the pair on both paths. */
  def jaccardHashed(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.SortedLongJaccard(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** [[jaccardHashed]] FUSED with its `>= threshold` filter: the exact
    * Jaccard when it passes, NULL otherwise, with sub-threshold pairs
    * exiting the merge at the first provable bound
    * ([[graft.functions.SortedLongJaccardGE]]). `filter(isNotNull)` on
    * this column ≡ `filter(jaccardHashed >= t)` — decision AND value
    * exact — while the dominant failing candidates (cross-size LSH noise)
    * stop after a prefix of the merge. */
  def jaccardHashedGE(a: Column, b: Column, threshold: Double): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.SortedLongJaccardGE(
      ColumnShim.expression(a), ColumnShim.expression(b), threshold))
  }

  // -- 1. exact / 2. fingerprint dedup ------------------------------------

  /** Groups of byte-identical values of `keyCol` with their multiplicity;
    * one hash-shuffle, map-side partial aggregation. */
  def exactDupGroups(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Keep one row per distinct `keyCol` (exact dedup). */
  def dropExactDups(df: DataFrame, keyCols: String*): DataFrame =
    df.dropDuplicates(keyCols)

  /** Dup groups under [[TextAnalysis.canonicalText]] equality — exact
    * dedup made robust to cosmetic edits (case, punctuation, whitespace).
    * Emits one row per group with >1 member: `rep_id` (min id) and
    * `n_copies`. Same scale shape as [[exactDupGroups]]: a per-row
    * canonical projection then one hash-aggregate keyed on the canonical
    * string (map-side combine collapses copies before the exchange); at
    * 100 TB swap the raw canonical string key for its xxhash64 to shrink
    * the shuffle — kept as the string here so the oracle can replay it. */
  def canonicalDupGroups(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.canonicalText(col(textCol)).as("__canon"))
      .groupBy(col("__canon"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("rep_id"), col("n_copies"))

  /** Dedup on the normalized rolling-hash fingerprint
    * (TextAnalysis.fingerprint): catches case/whitespace-only variants. */
  def fingerprintDedup(df: DataFrame, textCol: String = "text"): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    df.withColumn("fp", fp)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
          .orderBy(col(textCol))))
      .filter(col("rn") === 1).drop("rn")
  }

  // -- 3. MinHash + LSH ----------------------------------------------------

  /** Deterministic shingle hash into [0, 2^31): native xxhash64 (codegen'd,
    * one call per shingle) folded to 31 bits so the universal-hash
    * arithmetic a·h+b stays below 2^62 under ANSI. Cross-engine
    * reproducibility is NOT needed here — the oracle for near-dup queries is
    * the exact all-pairs Jaccard answer, which never computes a MinHash.
    * (A per-character interpreted fold here costs ~20× the whole sketch.) */
  def shingleHash(s: Column): Column = pmod(xxhash64(s), lit(2147483647L))

  /** MinHash signature: element i = min over shingles of the i-th universal
    * hash g_i(h) = (a_i·h + b_i) mod p, p = 2^31-1. All arithmetic stays
    * below 2^62 (h < 2^31, a_i < 2^31) so ANSI mode cannot overflow. The
    * a/b constants come from a fixed-seed RNG → plan-baked literals.
    *
    * Single-pass shape: ONE aggregate over the shingles with an
    * array<long> accumulator of running minima, the per-shingle polynomial
    * hash computed once per shingle. (The naive `array(min(transform(..)),
    * ×64)` form re-evaluates the char-fold hash under every permutation —
    * higher-order lambdas are not CSE'd — turning an O(S·(C+K)) sketch into
    * O(S·C·K).) */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    val aArr = array(Seq.fill(numHashes)(lit(rng.nextInt(Int.MaxValue - 1).toLong + 1)): _*)
    val bArr0 = Seq.fill(numHashes)(lit(rng.nextInt(Int.MaxValue).toLong))
    // re-seed iterator order: a's drawn first, then b's, matching prior
    // two-tuple draws is NOT preserved — constants only need determinism
    val bArr = array(bArr0: _*)
    val p = lit(2147483647L)
    // hash the shingles FIRST (transform evaluates once, array materialized
    // as the aggregate's input); the fold lambda then only re-references a
    // long element, never the char-fold expression
    aggregate(
      transform(shingleCol, s => shingleHash(s)),
      array_repeat(p, numHashes),
      (acc, h) =>
        zip_with(acc, zip_with(aArr, bArr, (a, b) => pmod(h * a + b, p)),
          (cur, g) => least(cur, g)))
  }

  /** Per-document banded signature rows: (id, band, bandSig). bandSig is the
    * xxhash64 of the band's slice of the MinHash signature.
    *
    * Physical shape (round-14): the WHOLE signature comes out of the
    * scan-stage [[graft.functions.MinHashSig]] kernel — one precompiled
    * loop per document, NO explode, NO aggregate, NO exchange at all (the
    * previous shape exploded corpus × shingles rows and rebuilt signatures
    * with a 64-way min aggregate whose groupBy(id) exchange carried the
    * exploded stream; before that, the round-4 window-lead form shuffled
    * the corpus's entire token stream). Signatures are bit-identical to
    * the aggregate form (DedupSpec locks kernel ≡ aggregate): min over the
    * n-gram multiset equals min over the distinct-shingle set, and docs
    * with no shingles return NULL here exactly where explode emitted no
    * row. The band signatures come from the [[graft.functions.BandSigs]]
    * kernel in the same projection ([[bandSigArray]]); they hash the same
    * "m0,m1,.." strings the declarative `xxhash64(concat_ws(…))` form
    * hashed, so every band row is unchanged. A NULL signature yields a
    * NULL band array, which posexplode turns into no rows. */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = LshShingleN, numHashes: Int = LshHashes,
      bands: Int = LshBands, seed: Long = LshSeed): DataFrame =
    df.select(col(idCol), posexplode(bandSigArray(
        minhashSig(col(textCol), shingleN, numHashes, seed), numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")

  /** The scan-stage [[graft.functions.MinHashSig]] kernel as a column:
    * the whole signature per document, NULL when it has no shingles. */
  private def minhashSig(text: Column, shingleN: Int, numHashes: Int,
      seed: Long): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.MinHashSig(
      ColumnShim.expression(text), shingleN, numHashes, seed))
  }

  /** Band `b`'s signature is the xxhash64 of signature elements
    * `[b·rows, (b+1)·rows)` joined by "," — the array [[lshBands]]
    * explodes, indexed by band — computed by the
    * [[graft.functions.BandSigs]] kernel in one call per document
    * (BandSigsSpec pins it to the declarative `xxhash64(concat_ws(…))`
    * form). */
  private def bandSigArray(mh: Column, numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    require(numHashes % bands == 0, "bands must divide numHashes")
    ColumnShim.column(graft.functions.BandSigs(ColumnShim.expression(mh), bands))
  }

  /** [[lshBands]]' default geometry: shingle size, signature length,
    * band count and hash seed. [[withBandSigs]] has no other, so band
    * rows built from its arrays always match default [[lshBands]] rows. */
  private[graft] val LshShingleN = 3
  private[graft] val LshHashes = 64
  private[graft] val LshBands = 16
  private[graft] val LshSeed = 42L

  /** `df` plus `outCol`: the document's default-geometry [[lshBands]]
    * band signatures as one array (element `b` is band `b`'s
    * `band_sig`), NULL for a document with no shingles — where
    * [[lshBands]] emits no row. Lets a caller stage the signatures beside
    * the document instead of as corpus × bands rows. */
  private[graft] def withBandSigs(df: DataFrame, textCol: String,
      outCol: String): DataFrame =
    df.withColumn(outCol, bandSigArray(
      minhashSig(col(textCol), LshShingleN, LshHashes, LshSeed),
      LshHashes, LshBands))

  /** All ordered pairs (a<b) from a sorted id array, as an expression. */
  private def pairCombos(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Default in-bucket pair-enumeration cap shared by every bucketed
    * candidate generator. Buckets at or below the cap enumerate all N²/2
    * pairs; larger ones collapse to a min-id STAR (every member paired
    * with the bucket's min id — linear fan-out). A 10⁵-member residual
    * clique would otherwise explode to 5·10⁹ pair rows out of ONE
    * collect_list row in one task; with the cap it emits 10⁵−1.
    *
    * This is a RECALL BOUND, not an identity. Sharing one band signature
    * (e.g. 4 of 64 MinHash rows agreeing) does not imply near-identity:
    * if the star center–B edge fails the exact verify while B–C would
    * have passed, the B–C pair (and B's cluster membership) is lost —
    * pair-level consumers diverge from the exact pair set once any
    * bucket crosses the cap, and connected components are preserved only
    * when over-cap buckets really are near-identical cliques (the
    * overwhelmingly common case that makes them over-cap in the first
    * place: boilerplate/templated mass duplicates). Below the cap
    * nothing changes — the fixture outputs (q35/q36/q45/q80/q86) are
    * bit-identical. Callers whose CONTRACT depends on specific edges
    * surviving the collapse must not rely on the single-center star:
    * [[Decontam.decontaminateFuzzy]] passes `parityStar = true` so each
    * over-cap bucket stars around BOTH its min even and min odd id and
    * cross-corpus edges survive. */
  val MaxBucket = 4096

  /** [[pairCombos]] with the [[MaxBucket]]-style star collapse. */
  private[graft] def cappedPairCombos(ids: Column, cap: Int): Column =
    when(size(ids) <= lit(cap), pairCombos(ids))
      .otherwise(transform(slice(ids, lit(2), size(ids)),
        y => struct(element_at(ids, 1).as("id_a"), y.as("id_b"))))

  /** [[cappedPairCombos]] with a PARITY-AWARE two-center star: past the
    * cap, every member is paired with BOTH the bucket's minimum EVEN id
    * and its minimum ODD id (when present). For tagged-union consumers
    * that encode corpus membership in the id's parity
    * ([[Decontam.decontaminateFuzzy]]: train → 2·id, eval → 2·id+1) the
    * single-center star is lossy in exactly the wrong way — if the one
    * center is a train id, every other train member's only candidate
    * edge is train×train and dies in the cross-parity filter, silently
    * KEEPING train docs that are near-copies of eval docs. Two centers
    * guarantee every member an edge to a center of each parity present,
    * so cross-corpus star edges always survive the filter. Fan-out stays
    * linear (≤ 2·(N−1) pairs); below the cap identical to full
    * enumeration. */
  private[operators] def cappedPairCombosParity(ids: Column, cap: Int): Column = {
    val evens = filter(ids, x => pmod(x, lit(2L)) === 0)
    val odds = filter(ids, x => pmod(x, lit(2L)) === 1)
    def star(center: Column): Column =
      transform(filter(ids, y => y =!= center),
        y => struct(least(center, y).as("id_a"),
          greatest(center, y).as("id_b")))
    def starIfAny(side: Column): Column =
      when(size(side) > 0, star(element_at(side, 1)))
        .otherwise(array().cast("array<struct<id_a:long,id_b:long>>"))
    when(size(ids) <= lit(cap), pairCombos(ids))
      .otherwise(concat(starIfAny(evens), starIfAny(odds)))
  }

  /** Candidate near-duplicate pairs from LSH banding: ids sharing any
    * (band, band_sig) bucket. One groupBy collects each bucket's ids and
    * pairs are enumerated in-bucket — a single evaluation of the MinHash
    * subtree (a bands⋈bands self-join would compute the signatures twice)
    * and shuffle ∝ corpus × bands, never O(N²). Skew-bounded two ways: a
    * mega-bucket means the docs ARE near-identical, and buckets past
    * `maxBucket` collapse to the min-id star ([[cappedPairCombos]]) so
    * the tail fan-out stays linear. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucket: Int = MaxBucket,
      parityStar: Boolean = false): DataFrame = {
    val combos: Column => Column =
      if (parityStar) cappedPairCombosParity(_, maxBucket)
      else cappedPairCombos(_, maxBucket)
    lshBands(df, idCol, textCol, shingleN, numHashes, bands, seed)
      .groupBy(col("band"), col("band_sig"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      // Round-15: dedup BUCKET CONTENTS before enumerating pairs. Near
      // duplicates agree on most of their 16 bands, so the same sorted id
      // set recurs up to `bands` times and each recurrence re-emits the
      // full N²/2 pair list into the final distinct — the QUADRATIC
      // stream. One linear exchange on the array collapses the
      // recurrences first, cutting the pair exchange by up to bands×
      // (measured 16× row reduction on the 10×-clique fixture) — the
      // right 100 TB trade: the added exchange is ∝ bucket count, the
      // saved one ∝ clique²·bands. The candidate SET is exactly
      // preserved: identical arrays enumerate identical pairs (and
      // identical star collapses past the cap), so only multiplicity —
      // which the final distinct erased anyway — changes.
      .select(col("ids")).distinct()
      .select(explode(combos(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** Size-ratio pre-prune of candidate pairs — the verify-stage lever for
    * size-heterogeneous corpora: J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|) /
    * max(|A|,|B|), so any pair whose shingle-set cardinalities differ by
    * more than the threshold ratio cannot verify. The sizes pass ships 12
    * bytes per candidate doc (id + one int from a scan-stage `size(kernel)`
    * projection — no arrays move); docs whose every candidate edge fails
    * the bound never ship their hash arrays into the verify joins at all.
    *
    * LOSSLESS by monotone rounding: inter ≤ least and union ≥ greatest as
    * integers, and correctly-rounded double division preserves ≤, so
    * `jaccardHashed ≤ least/greatest` holds in double too — the same
    * `>= threshold` compare can never pass verify yet fail here (empty
    * sets: jaccardHashed yields NULL and least/greatest is 0 ⇒ both
    * filters drop the pair). */
  private[graft] def sizePrunePairs(cands: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      threshold: Double): DataFrame = {
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val sizes = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), size(shingleHashes64(col(textCol), shingleN)).as("sz"))
    cands
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")).cast("double") >= lit(threshold))
      .select(col("id_a"), col("id_b"))
  }

  /** Near-duplicate pairs: LSH candidates verified by exact shingle Jaccard
    * >= `threshold`. Output: (id_a, id_b, jaccard).
    * `sizePrune` interposes [[sizePrunePairs]] between the candidate and
    * verify stages — provably lossless, and on corpora where LSH
    * collisions cross size classes (prefix dups, templated docs of varying
    * length) it keeps the heavy hash arrays off the verify exchanges for
    * pairs the size bound already refutes. The prune's costs are
    * O(candidate rows · 16 B) extra exchanges while its savings are
    * O(refuted docs · array bytes), so it NEEDS long docs and common,
    * refutable cross-size candidates to pay — x_sizeprune_bytes_shrink
    * stamps 2.0× fewer forced-sort-merge exchange bytes on exactly that
    * regime (8×-salted long docs, 70%-prefix twins colliding w.p. ≈ 99%),
    * where the first short-doc probe fixture measured it net-NEGATIVE
    * (0.93×, 13 runs — round-10 verdict item 3: costs dominated). Default
    * OFF because the win is exchange BYTES, not local seconds (wall ≈
    * 1.0× on the single-JVM probe even in the win regime — shipped bytes
    * are ~free locally): turn it on when the verify join is network-bound
    * (the 100 TB case) AND the corpus is long-doc size-skewed; leave it
    * off for short or size-uniform docs, where it only adds exchanges. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, seed: Long = 42L,
      maxBucket: Int = MaxBucket, sizePrune: Boolean = false): DataFrame = {
    // Materialize the (tiny) candidate list EAGERLY: it feeds three plan
    // branches (two id projections + the verify join). A lazy persist()
    // let the final action plan all three branches as CONCURRENT stages
    // that raced to populate the cache — each racing stage re-ran the
    // whole MinHash+shuffle subtree (measured: the fused path cost ~2.5×
    // the sum of its stages at the 10× fixture before this and the `sh`
    // checkpoint below; tools/NearDupProbe decomposes it).
    // all internal staging rides a tracker released on the way out of
    // Checkpoints.staging, so an exception mid-pipeline still frees the
    // blocks created so far (round-12 ADVICE: releases outside
    // try/finally leak on failure)
    graft.Checkpoints.staging { st =>
    val rawCands = st.track(lshCandidatePairs(df, idCol, textCol, shingleN,
      numHashes, bands, seed, maxBucket)
      .staged)
    val cands =
      if (sizePrune) st.track(sizePrunePairs(rawCands, df, idCol, textCol,
        shingleN, threshold).staged)
      else rawCands
    // shingle only the docs that appear in candidate pairs (semi-join):
    // verify cost ∝ candidate count, not corpus size. Hashed shingles
    // (sorted distinct longs, scan-stage kernel) ride the verify joins —
    // 8 bytes per shingle instead of the strings — and the per-pair
    // Jaccard is one merge pass instead of two string-keyed hash-set
    // builds; equal to the string answer up to 64-bit collisions
    // (< 1e-12/pair, oracle-replayed exactly — see [[jaccardHashed]]).
    // Checkpointed: both verify-join sides consume it, and lazily each
    // side would re-run the semi-join + shingle kernel.
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val sh = st.track(df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), shingleHashes64(col(textCol), shingleN).as("sh"))
      .staged)
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      // threshold-fused kernel: failing candidates exit the merge at the
      // first provable bound; survivors carry the exact value (≡ the old
      // jaccardHashed >= threshold filter, decision and value)
      .select(col("id_a"), col("id_b"),
        jaccardHashedGE(col("sh_a"), col("sh_b"), threshold).as("jaccard"))
      .filter(col("jaccard").isNotNull)
      // Eager localCheckpoint: materializes the (small) verified pair list
      // once — every caller branch reuses the blocks. No caller-must-
      // unpersist contract: external users cannot leak executor memory by
      // default (the returned frame's own blocks go to the ContextCleaner
      // when it becomes unreachable). NOT tracked — it is the result.
      .staged
    // the internal staging frames' last consumer just materialized —
    // Checkpoints.staging frees their blocks NOW instead of waiting for a
    // driver GC to reach the ContextCleaner (round-12: eventually-freed
    // internal checkpoints stack up across a long session and the
    // pressure taxes every later operator)
    }
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering — the
    * guaranteed-recall twin of [[nearDupPairs]] (MinHash-LSH trades recall
    * for speed; this trades a wider candidate set for exactness).
    *
    * Prefix-filter theorem: if |A∩B| ≥ α then, under any fixed total order
    * on the element universe, the first |A|−α+1 elements of A and the first
    * |B|−α+1 of B must intersect. J(A,B) ≥ t implies |A∩B| ≥ t·|A∪B| ≥
    * t·max(|A|,|B|), so indexing only each doc's first |X|−⌈t·|X|⌉+1
    * shingles (canonical order = sorted 31-bit shingle hash) finds every
    * qualifying pair. Hash collisions only merge elements — hashed-set
    * Jaccard ≥ string-set Jaccard — so filtering on hashes never drops a
    * true pair, and the verify step recomputes Jaccard on the true string
    * shingles, making the result exact.
    *
    * 100 TB posture: shuffle ∝ corpus × prefix length (a (1−t) fraction of
    * the shingles), candidates enumerated in-bucket with a size-ratio prune
    * (|A| ≥ t·|B| is necessary), verify scoped to candidates by semi-join —
    * the same bucket-collect shape as LSH, never O(N²). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3): DataFrame = {
    graft.Checkpoints.staging { st =>
    val sh = df.select(col(idCol),
        shingles(col(textCol), shingleN).as("sh"))
      .withColumn("hs", sort_array(array_distinct(
        transform(col("sh"), s => shingleHash(s)))))
      .withColumn("sz", size(col("hs")))
    // prefix length |X| − ⌈t·|X|⌉ + 1 (empty shingle sets → no candidates)
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + lit(1)).cast("int")
    val prefix = sh.select(col(idCol), col("sz"),
        explode(slice(col("hs"), lit(1), greatest(prefixLen, lit(0)))).as("h"))
    val cands = st.track(prefix
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sz")))).as("members"))
      .filter(size(col("members")) > 1)
      // bucket-content dedup before the quadratic enumeration: similar
      // docs share many prefix shingles, so the same member array recurs
      // once per shared prefix hash — collapse recurrences with one
      // linear exchange instead of re-emitting N²/2 pairs per recurrence
      // into the final distinct (round-15; see lshCandidatePairs)
      .select(col("members")).distinct()
      .select(explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + lit(2), size(col("members"))),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            x.getField("sz").as("sz_a"), y.getField("sz").as("sz_b")))))).as("p"))
      // size-ratio prune: J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|)
      .filter(least(col("p.sz_a"), col("p.sz_b")).cast("double") >=
        lit(threshold) * greatest(col("p.sz_a"), col("p.sz_b")).cast("double"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .staged) // eager: three consumer branches, no races
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    // materialized once: both verify-join sides consume it (lazily each
    // side would recompute the semi-join + string shingles)
    val strSh = st.track(df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), shingles(col(textCol), shingleN).as("s"))
      .staged)
    cands
      .join(strSh.select(col(idCol).as("id_a"), col("s").as("s_a")), "id_a")
      .join(strSh.select(col(idCol).as("id_b"), col("s").as("s_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("s_a"), col("s_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .staged // eager; result contract as in nearDupPairs — NOT tracked
    // internal staging released by Checkpoints.staging — see nearDupPairs
    }
  }

  /** Transitive duplicate CLUSTERS from a near-dup pair list: connected
    * components by iterative min-label propagation. Each doc's label starts
    * as its own id; every round each doc takes the min label among itself
    * and its neighbors; fixpoint = components labeled by their min member.
    * Round 0 — identity labels meeting their neighbors — is computed
    * straight from the symmetric edge list: one aggregate per node,
    * `least(id, min(neighbor))`, over the edge cache's existing
    * hash-partitioning (no identity-label staging, no join), with the
    * round's changed count (`label < id`) observed on its staging. Labels,
    * round count and the `maxRounds` contract equal the identity-seeded
    * loop's (a test twin pins both).
    *
    * 100 TB posture: operates on the PAIR list (∝ duplicate density, not
    * corpus size); each later round is one join + one groupBy of that list;
    * convergence in O(diameter) rounds (near-dup components are
    * low-diameter in practice — chains of borderline pairs are rare).
    * `localCheckpoint` per round truncates the growing lineage. The driver
    * loop stops when a round changes no label (one scalar count per round).
    *
    * NON-CONVERGENCE IS AN ERROR: a component of diameter > `maxRounds`
    * would leave the propagation mid-collapse, and every consumer of this
    * labeling (min-id representative picks, [[graft.streaming
    * .StreamingCuration.reconcileKept]]'s retraction rule, the q195
    * recipe) silently assumes FULL collapse — a partially-labeled
    * component would split one dup cluster into several, each keeping its
    * own "representative". So the loop throws instead of returning a
    * mislabeling (round-9 verdict item 3); raise `maxRounds` (cost is per
    * ROUND, and only unconverged rounds run) if a legitimately
    * long-chain graph ever hits it.
    *
    * Output: (id, cluster) for every id that appears in a pair — min member
    * id of its component, a deterministic labeling any engine reproduces
    * (the DuckDB oracle uses a recursive CTE over the same pairs). */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxRounds: Int = 20): DataFrame = {
    // both directions of every pair from one scan of `pairs`
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // round-14: cache the edge set ALREADY hash-partitioned on the join
      // key — the per-round join needs hashpartitioning(dst), and the
      // InMemoryRelation preserves this partitioning, so rounds shuffle
      // only the (small) label side (guide §2.4: two operations keyed the
      // same way share one exchange). The distinct comes after the
      // repartition: hashpartitioning(dst) already clusters every
      // (src, dst) key, so it needs no exchange of its own
      .repartition(col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // null until round 0 stages: with maxRounds <= 0 no round runs and
    // the non-convergence throw below fires
    var labels: DataFrame = null
    var round = 0
    var converged = false
    var failed = true // any exit before the success flip releases labels
    // finally: a mid-loop exception (or the non-convergence throw below)
    // must still unpersist the edge cache — and the in-flight labels
    // checkpoint too — or the failure path leaks them back to
    // ContextCleaner timing (round-12 ADVICE)
    try {
    while (round < maxRounds && !converged) {
      // (id, cluster, old): the round's min label per id and the label it
      // held before the round. Round 0 is the identity labeling's first
      // propagation, read off the edge list: by symmetry a node's
      // neighbors are the `src` of its `dst` rows, and grouping on `dst`
      // rides the edge cache's hashpartitioning(dst), so the round needs
      // no exchange. Later rounds: candidate labels flowing across edges,
      // then min per id (incl. own); the own label rides the same
      // aggregate (min over the single own=true row), so convergence
      // detection needs no per-round join back onto labels.
      val step =
        if (labels == null) edges.groupBy(col("dst"))
          .agg(least(col("dst"), min(col("src"))).as("cluster"))
          .select(col("dst").as("id"), col("cluster"), col("dst").as("old"))
        else labels.select(col("id"), col("cluster"), lit(true).as("own"))
          .union(edges
            .join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(col("src").as("id"), col("cluster"), lit(false).as("own")))
          .groupBy(col("id"))
          .agg(min(col("cluster")).as("cluster"),
            min(when(col("own"), col("cluster"))).as("old"))
      // Round-15: the changed-count rides the staging materialization
      // itself as an OBSERVED metric (CollectMetricsExec accumulates
      // during the checkpoint action; codegen-transparent) — one job per
      // round instead of staging + a follow-up filter-count job over the
      // checkpointed blocks.
      val obs = org.apache.spark.sql.Observation(s"dupclusters_r$round")
      val next = step
        .observe(obs,
          sum(when(col("cluster") < col("old"), 1L).otherwise(0L))
            .as("changed"))
        .staged
      val changed = obs.get("changed") match {
        case null => 0L // all-NULL sum: empty label frame, nothing changed
        case n: java.lang.Number => n.longValue
      }
      // the previous round's label blocks are dead once `next` is
      // materialized — release them now rather than stacking one
      // labels-sized cache entry per round until a driver GC
      if (labels != null) graft.Checkpoints.release(labels)
      labels = next.select(col("id"), col("cluster"))
      converged = changed == 0
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge within maxRounds=$maxRounds: the " +
        "pair graph holds a component of diameter > maxRounds, and a " +
        "partial labeling would silently split dup clusters (every " +
        "consumer assumes full collapse). Raise maxRounds — only " +
        "unconverged rounds actually run.")
    failed = false
    } finally {
      edges.unpersist(blocking = false)
      if (failed && labels != null) graft.Checkpoints.release(labels)
    }
    labels
  }

  /** End-to-end near-dedup: drop every document that is NOT its near-dup
    * cluster's canonical representative (the min-id member) — the actual
    * "dedup the corpus" action built from [[nearDupPairs]] →
    * [[dupClusters]] → anti-join. Singleton docs (no near-dup) survive
    * untouched. The loser set is sized by the duplicate count, not the
    * corpus; the anti-join is left un-hinted so AQE broadcasts it when it
    * is small and falls back to a shuffle join when a pathological corpus
    * makes it large. */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, shingleN,
      numHashes, bands)
    // pairs is an eager localCheckpoint — no persist to release; its blocks
    // are freed automatically once the labels are checkpointed and the pair
    // frame goes out of scope
    val clusters = dupClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropNearDups]] with PER-STAGE wall-clock attribution: each stage
    * (pairs → clusters → anti-join) is materialized and timed, so the
    * end-to-end probe always reconciles with its parts (round-7 verdict
    * item 2 — the whole-path median had drifted with no component moving,
    * and nothing inside the fused plan could say which stage pays).
    * Returns (survivor count, stage seconds). Bench-only instrumentation:
    * the production path stays [[dropNearDups]] (fused, no forced
    * materialization). */
  def dropNearDupsStaged(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16): (Long, Seq[(String, Double)]) = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      stages += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    val pairs = timed("pairs") {
      nearDupPairs(df, idCol, textCol, threshold, shingleN, numHashes, bands)
    } // nearDupPairs returns an eager localCheckpoint — already materialized
    val clusters = timed("clusters") {
      dupClusters(pairs) // labels end localCheckpointed (eager) per round
    }
    val n = timed("anti") {
      val losers = clusters.filter(col("id") =!= col("cluster"))
        .select(col("id").as(idCol))
      df.join(losers, Seq(idCol), "left_anti").count()
    }
    (n, stages.toSeq)
  }

  /** [[dropNearDups]] with an explicit survivor POLICY: within each
    * near-dup cluster keep the member maximizing `qualityCol` (ties broken
    * by highest id — a total order, so the survivor set is deterministic).
    * This is the policy curation pipelines actually want — "keep the best
    * copy", not "keep the lowest id". Plan shape is unchanged except the
    * representative pick, which is ONE `max(struct(quality, id))`
    * aggregate over cluster members ([[graft.operators.Packing
    * .argmaxPerKey]] semantics) — shuffle ∝ documents that HAVE a
    * near-dup, never the corpus. */
  def dropNearDupsKeepBest(df: DataFrame, idCol: String, textCol: String,
      qualityCol: Column, threshold: Double, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, shingleN,
      numHashes, bands)
    val clusters = dupClusters(pairs) // pairs auto-freed — see dropNearDups
    val members = clusters
      .join(df.select(col(idCol).as("id"), qualityCol.as("__q")), Seq("id"))
    val winners = members.groupBy(col("cluster"))
      .agg(max(struct(col("__q"), col("id"))).as("__best"))
      .select(col("__best.id").as("id"))
    val losers = members.join(winners, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Fuzzy-match (edit-distance) pair join — entity resolution over short
    * strings (names, titles, skus): pairs sharing at least one character
    * TRIGRAM, within `maxDist` length difference, verified by
    * `levenshtein ≤ maxDist`. Trigram blocking is the candidate
    * generator: a bucketed self-equi-join (shuffle on the gram), never a
    * cross product; candidates ∝ Σ bucket², so at corpus scale cap or
    * rarest-gram-filter the hot grams (q49's prefix-filter machinery) —
    * the verify step is already scoped to candidates only. Recall note:
    * k edits destroy ≤ 3k trigrams, so any lev≤k pair of length
    * ≥ 3k+3 shares a surviving trigram — exact for short-string k=2 at
    * len ≥ 9, and the shared-trigram condition is part of the operator's
    * DEFINITION (the DuckDB oracle computes the identical candidate set,
    * so the gate is bit-exact, not recall-approximate). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0)
    val s = df.select(col(idCol).as("id"), col(strCol).as("str"))
    val grams = s.select(col("id"),
        explode(expr(
          "transform(sequence(1, greatest(length(str) - 2, 1)), i -> substring(str, i, 3))"))
          .as("gr"))
      .distinct()
    val cand = grams.select(col("gr"), col("id").as("id_a"))
      .join(grams.select(col("gr"), col("id").as("id_b")), Seq("gr"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sa = s.select(col("id").as("id_a"), col("str").as("str_a"))
    val sb = s.select(col("id").as("id_b"), col("str").as("str_b"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .filter(abs(length(col("str_a")) - length(col("str_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("str_a"), col("str_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Oracle twin of [[nearDupPairs]]: exact all-pairs Jaccard — O(N²),
    * small-data correctness baseline only. */
  def allPairsJaccard(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -- 4. SimHash ----------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: bit j of the sketch is the sign
    * of Σ_tokens (2·bit_j(xxhash64(token)) − 1). Built as one aggregate with
    * an array<long> accumulator zip_with-updated per token — a single narrow
    * projection, no explode. */
  def simhash64(text: Column): Column = {
    val tokens = split(text, " +")
    val bitMasks = array((0 until 64).map(j => lit(1L << j)): _*)
    val counters = aggregate(
      tokens,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, bitMasks,
          (c, m) => c + when(h.bitwiseAND(m) =!= 0, lit(1L)).otherwise(lit(-1L)))
      })
    // pack sign bits via bitwiseOR of per-position masks — acc*2 folding
    // would overflow signed long (ANSI throw) once bit 63 is set
    aggregate(
      zip_with(counters, bitMasks, (c, m) => when(c > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, m) => acc.bitwiseOR(m))
  }

  /** [[simhash64]] in the explode + HashAggregate shape (the same treatment
    * MinHash got in [[lshBands]]): per-token xxhash64 and the 64 sign
    * counters run inside whole-stage codegen as conditional SUM aggregates,
    * instead of an interpreted per-token zip_with fold (64 lambda ops per
    * token). Map-side combine means the shuffle carries 64 longs per
    * document. Output: (idCol, sk) — bit-identical to `simhash64`
    * (DedupSpec asserts equality). */
  def simhashSketch(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " +")).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
    val sumAggs = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, lit(1L)).otherwise(lit(-1L)))
        .as(s"c$j")
    }
    val counters = toks.groupBy(col(idCol)).agg(sumAggs.head, sumAggs.tail: _*)
    val sk = (0 until 64)
      .map(j => when(col(s"c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    counters.select(col(idCol), sk.as("sk"))
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within `maxHamming`, bucketed by the
    * 4-chunk pigeonhole trick: two sketches within Hamming distance k<=3 of
    * each other must agree exactly on at least one of 4 16-bit chunks, so
    * candidates come from 4 bucket-joins instead of N². */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucket): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole supports maxHamming <= 3")
    val sk = simhashSketch(df, idCol, textCol) // codegen path; == simhash64
    // same bucket-collect shape as lshCandidatePairs: single sketch
    // evaluation, in-bucket pair enumeration, min-id star past maxBucket
    val chunks = sk.select(col(idCol), col("sk"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sk"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    def pairStruct(x: Column, y: Column): Column =
      struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
        x.getField("sk").as("sk_a"), y.getField("sk").as("sk_b"))
    val m = col("members")
    val pairs = chunks
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sk")))).as("members"))
      .filter(size(m) > 1)
      // bucket-content dedup: sketches within Hamming ≤ 3 agree on up to
      // all 4 chunks, so the same member array recurs once per agreeing
      // chunk — collapse recurrences before the quadratic enumeration
      // (round-15; see lshCandidatePairs)
      .select(m).distinct()
      .select(explode(
        when(size(m) <= lit(maxBucket),
          flatten(transform(m, (x, i) =>
            transform(slice(m, i + lit(2), size(m)), y => pairStruct(x, y)))))
        .otherwise(transform(slice(m, lit(2), size(m)),
          y => pairStruct(element_at(m, 1), y)))).as("p"))
    pairs
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        hamming64(col("p.sk_a"), col("p.sk_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded Hamming near-duplicate pairs over an ARBITRARY 64-bit hash
    * column (dHash/pHash perceptual image hashes, SimHash sketches —
    * the generalization of [[simhashNearDupPairs]]'s 4-chunk pigeonhole
    * to any band count): the hash splits into `bands` equal chunks, and
    * two hashes within Hamming distance < bands must agree EXACTLY on
    * at least one chunk, so candidates come from `bands` bucket-joins —
    * COMPLETE for `maxHamming < bands` (the ≤ bands−1 differing bits
    * cannot hit every chunk), never all-pairs. Same bucket-collect
    * shape as every dedup in this file: one hash evaluation, in-bucket
    * pair enumeration with the min-id star collapse past `maxBucket`,
    * exact `bit_count` verification on the candidates only.
    * Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤
    * `maxHamming` (BIGINT — oracle-matchable). */
  def hammingBandedPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 8,
      maxBucket: Int = MaxBucket): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64: $bands")
    require(maxHamming < bands,
      s"pigeonhole completeness needs maxHamming < bands " +
        s"($maxHamming >= $bands): raise bands or lower the threshold")
    val width = 64 / bands
    val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1)
    val sk = df.select(col(idCol), col(hashCol).as("sk"))
    val chunks = sk.select(col(idCol), col("sk"),
      posexplode(array((0 until bands).map(i =>
        shiftright(col("sk"), i * width).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    def pairStruct(x: Column, y: Column): Column =
      struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
        x.getField("sk").as("sk_a"), y.getField("sk").as("sk_b"))
    val m = col("members")
    val pairs = chunks
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sk"))))
        .as("members"))
      .filter(size(m) > 1)
      // bucket-content dedup: hashes within the Hamming bound agree on
      // multiple chunks, so the same member array recurs once per
      // agreeing chunk (round-15; see lshCandidatePairs)
      .select(m).distinct()
      .select(explode(
        when(size(m) <= lit(maxBucket),
          flatten(transform(m, (x, i) =>
            transform(slice(m, i + lit(2), size(m)), y => pairStruct(x, y)))))
        .otherwise(transform(slice(m, lit(2), size(m)),
          y => pairStruct(element_at(m, 1), y)))).as("p"))
    pairs
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        hamming64(col("p.sk_a"), col("p.sk_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // -- duplicated-span signal ---------------------------------------------

  /** Per-document duplicated-n-gram statistics: `(idCol, n_grams, n_dup)`
    * where `n_grams` is the doc's distinct word-n-gram count and `n_dup`
    * how many of those appear in at least one OTHER document — the
    * distributed stand-in for exact-substring dedup (suffix arrays don't
    * shard; a corpus-wide n-gram frequency join does). Callers threshold on
    * the exact integer ratio, e.g. drop when `n_dup * 10 >= 8 * n_grams`
    * (≥80% duplicated span).
    *
    * Scale shape: one explode per doc (scan stage, native
    * [[graft.functions.WordNgramHashes]] kernel — sorted distinct 64-bit
    * gram hashes, so the gram-frequency exchange and the gram join are
    * keyed on 8-byte longs instead of gram STRINGS; round-14, guide §2.3
    * "shuffle fewer bytes"), one partial-agg shuffle keyed on the hash to
    * count carrying docs, one shuffle join of grams against those counts
    * (AQE splits hot grams), one partial-agg shuffle back on the doc id.
    * Nothing is ever all-pairs and no gram list is collected. Counts are
    * identical to the string-keyed form unless two DISTINCT grams collide
    * in 64 bits (P ≈ V²·2⁻⁶⁵ over the gram vocabulary — the same accepted
    * bound as [[jaccardHashed]]; the tri-scale DuckDB oracle replays the
    * exact string semantics and gates it). */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = df.select(col(idCol),
      explode(shingleHashes64(col(textCol), n)).as("__gh"))
    // gram hashes are distinct per doc, so count(*) per hash == carrying docs
    val counts = grams.groupBy(col("__gh")).agg(count(lit(1)).as("n_docs"))
    grams.join(counts, Seq("__gh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
  }

  // -- segment-level (line) dedup ------------------------------------------

  /** CCNet/RefinedWeb-style SEGMENT-level dedup: every document is cut into
    * deterministic segments, each segment occurrence that is not the
    * corpus-wide FIRST occurrence of its text (ordered by doc id, then
    * position) is dropped, and the survivors are reassembled in document
    * order. The web-curation counterpart of doc-level exact dedup — kills
    * boilerplate (headers, navbars, license blocks) repeated across pages
    * without discarding the pages themselves.
    *
    * Segmentation is a fixed `segmentWords` word window (the fixture has no
    * newlines; on real corpora pass text pre-split on '\n' upstream or use
    * a larger window — the dedup algebra is segmentation-agnostic).
    *
    * Scale shape: one explode (segments ∝ tokens), one partial-agg shuffle
    * keyed on the segment text computing `min(struct(doc, pos))` — the
    * map-side combine collapses hot boilerplate BEFORE the exchange, which
    * a row_number window could not (a hot segment would pin one reducer) —
    * one shuffle join of occurrences against firsts (AQE splits residual
    * hot keys), one shuffle back on the doc id to reassemble. At 100 TB
    * pass `hashedKeys = true`: the agg/join exchanges key on
    * `xxhash64(segment)` instead of the raw string — the first-occurrence
    * aggregate's exchange rows and the firsts build side shrink to 16
    * bytes each regardless of segment length (the occurrence side still
    * carries the string for reassembly). Two distinct segments colliding
    * in 64 bits would alias (P ≈ n²/2⁶⁵ — ~3% at 10⁹ distinct segments,
    * and a collision drops ONE boilerplate-sized window, not a document);
    * the raw-string default stays bit-exact and is what the DuckDB oracle
    * replays (q147).
    *
    * Output: `idCol`, `keep*`, `n_segments`, `n_kept`, `text_deduped`. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segmentWords: Int = 8, keep: Seq[String] = Nil,
      hashedKeys: Boolean = false): DataFrame = {
    val exploded = explodeSegments(df, idCol, textCol, segmentWords, keep)
      .withColumn("__segkey",
        if (hashedKeys) xxhash64(col("segment")) else col("segment"))
    val firsts = exploded.groupBy(col("__segkey"))
      .agg(min(packedPos(idCol)).as("__first"))
    reassemble(
      exploded.join(firsts, Seq("__segkey"))
        .withColumn("__keep", packedPos(idCol) === col("__first")),
      idCol, keep)
  }

  /** Incremental [[segmentDedup]]: dedup a NEW batch of docs against the
    * `segmentIndex` of everything already ingested (plus intra-batch), the
    * corpus-refresh shape — a daily crawl drop must not re-scan the corpus,
    * only probe the segment set. Returns (deduped batch docs, updated
    * index). Provided batch ids are larger than all earlier ids (crawl
    * drops are), folding batches through this function yields EXACTLY the
    * rows [[segmentDedup]] would produce on the union — the q150 gate
    * hash-proves it.
    *
    * `segmentIndex`: one `segment` string column (distinct). Scale shape:
    * the batch explodes and self-aggregates as usual; the index is probed
    * with [[BloomJoin.bloomPrunedAntiJoin]] when `bloomExpectedItems > 0`
    * (bloom miss = proof of absence → the mostly-new bulk never joins),
    * plain left-anti otherwise; the updated index appends only the batch's
    * genuinely-new segments. */
  def segmentDedupIncremental(newDocs: DataFrame, segmentIndex: DataFrame,
      idCol: String, textCol: String, segmentWords: Int = 8,
      keep: Seq[String] = Nil, bloomExpectedItems: Long = 0L,
      bloomBits: Long = 1L << 27): (DataFrame, DataFrame) = {
    // round-15 staging (guide §5, the q183 pattern): `firsts` feeds the
    // bloom probe's two filter branches plus the exact anti-join, and
    // `newFirsts` feeds BOTH the keep-marking join and the returned index
    // — which the caller's NEXT drop consumes twice more (bloom build +
    // anti-join build side). Un-staged, every one of those consumers
    // re-ran the whole explode + first-occurrence aggregate of THIS call
    // and, through the returned index, of every PRIOR call (measured on
    // q150: the second drop re-executed the first drop's pipeline ~3×;
    // 7.3 s of which only a fraction was first-execution work). `firsts`
    // is tracked and released once its last in-call consumer (the staged
    // `newFirsts`) materializes; `newFirsts` stays untracked because the
    // returned frames alias its blocks (result lifetime, ContextCleaner).
    // `exploded` deliberately stays lazy: recomputing the scan-stage
    // WordSegments kernel is cheaper than checkpointing corpus-sized
    // segment rows.
    graft.Checkpoints.staging { st =>
      val exploded = explodeSegments(newDocs, idCol, textCol, segmentWords, keep)
      val firsts = st.track(exploded.groupBy(col("segment"))
        .agg(min(packedPos(idCol)).as("__first")).staged)
      // the probe and build keys share the name `segment` — rename the index
      // side so the anti-join condition resolves unambiguously
      val seen = segmentIndex.select(col("segment").as("__seen_seg"))
      val newFirsts =
        (if (bloomExpectedItems > 0)
          BloomJoin.bloomPrunedAntiJoin(firsts, seen,
            "segment", "__seen_seg", bloomExpectedItems, bloomBits)
        else firsts.join(seen, col("segment") === col("__seen_seg"), "left_anti"))
          .staged
      val marked = exploded
        .join(newFirsts, Seq("segment"), "left")
        .withColumn("__keep",
          col("__first").isNotNull && packedPos(idCol) === col("__first"))
      val updatedIndex =
        segmentIndex.select(col("segment"))
          .unionAll(newFirsts.select(col("segment")))
      (reassemble(marked, idCol, keep), updatedIndex)
    }
  }

  /** Deterministic fixed-window segmentation shared by the dedup variants:
    * one row per (doc, seg_idx, segment). Runs as the native
    * [[graft.functions.WordSegments]] kernel (round-15: the declarative
    * chain below allocated a sliced array + joined string per segment
    * through interpreted lambdas — the ~100× penalty class — on a pass
    * over every document); [[explodeSegmentsFold]] is the declarative
    * twin it is spec-locked to. */
  private def explodeSegments(df: DataFrame, idCol: String, textCol: String,
      segmentWords: Int, keep: Seq[String]): DataFrame = {
    require(segmentWords > 0, "segmentWords must be positive")
    import org.apache.spark.sql.graftshim.ColumnShim
    val segs = ColumnShim.column(graft.functions.WordSegments(
      ColumnShim.expression(col(textCol)), segmentWords))
    df.select(col(idCol) +: keep.map(col) :+ explode(segs).as("s"): _*)
      .select(col(idCol) +: keep.map(col) :+
        col("s.seg_idx").as("seg_idx") :+ col("s.segment").as("segment"): _*)
  }

  /** Interpreted higher-order-function twin of [[explodeSegments]] (the
    * executable semantics statement; spec/equality use only). */
  private[graft] def explodeSegmentsFold(df: DataFrame, idCol: String,
      textCol: String, segmentWords: Int, keep: Seq[String]): DataFrame = {
    require(segmentWords > 0, "segmentWords must be positive")
    val words = split(col(textCol), " +")
    val nSegs = floor((size(words) + lit(segmentWords - 1)) / lit(segmentWords))
      .cast("int")
    val segs = transform(sequence(lit(0), nSegs - 1), i =>
      struct(i.as("seg_idx"),
        array_join(slice(words, i * segmentWords + 1, lit(segmentWords)), " ")
          .as("segment")))
    df.select(col(idCol) +: keep.map(col) :+ explode(segs).as("s"): _*)
      .select(col(idCol) +: keep.map(col) :+
        col("s.seg_idx").as("seg_idx") :+ col("s.segment").as("segment"): _*)
  }

  /** First occurrence = min of (doc, pos) packed into ONE long: a struct
    * min would force SortAggregate (structs aren't hash-agg buffer types)
    * and pay a per-partition sort over every segment row; the packed form
    * stays a HashAggregate. Lexicographic (d, i) ≡ d·S + i for 0 ≤ i < S
    * (any integer d); i ≥ S fails loudly, d·S overflow throws under ANSI. */
  private val SegPack = 1L << 21 // 2M segments/doc = 16M+ words — raise if hit

  private def packedPos(idCol: String): Column =
    when(col("seg_idx") < lit(SegPack),
      col(idCol) * lit(SegPack) + col("seg_idx").cast("long"))
      .otherwise(raise_error(concat(
        lit(s"segmentDedup: more than $SegPack segments in doc "),
        col(idCol).cast("string"))))

  /** Rebuild per-doc rows from marked segment occurrences. */
  private def reassemble(marked: DataFrame, idCol: String,
      keep: Seq[String]): DataFrame =
    marked.groupBy(col(idCol) +: keep.map(col): _*)
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("__keep"), struct(col("seg_idx"), col("segment"))))),
          x => x.getField("segment")), " ").as("text_deduped"))

  // -- winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS) -------

  /** Winnowing fingerprint sketch column — sorted distinct sliding-window
    * (w grams) minima over positional k-gram fold hashes; see
    * [[graft.functions.WinnowFingerprints]] for the guarantee. */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 8): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.WinnowFingerprints(
      ColumnShim.expression(text), k, w))
  }

  /** Interpreted declarative twin of [[winnowFingerprints]] (the
    * executable semantics statement the kernel is spec-locked to;
    * test-only). */
  private[graft] def winnowFingerprintsFold(text: Column, k: Int,
      w: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val hs = ColumnShim.column(graft.functions.WordGramFoldHashes(
      ColumnShim.expression(text), k))
    sort_array(array_distinct(
      when(size(hs) === 0, array().cast("array<bigint>"))
        .when(size(hs) < w, array(array_min(hs)))
        .otherwise(transform(sequence(lit(0), size(hs) - w),
          i => array_min(slice(hs, i + lit(1), lit(w)))))))
  }

  /** PARTIAL-overlap candidate pairs via winnowing: documents sharing at
    * least `minShared` fingerprints — the case whole-doc MinHash dilutes
    * (a copied paragraph inside two otherwise-different documents barely
    * moves doc-level Jaccard but always lands ≥ 1 shared fingerprint once
    * the span reaches w + k − 1 words). Output (id_a, id_b, n_shared).
    *
    * Same bucket algebra as LSH: explode the (doc, fp) sketch stream
    * (~1/w of the gram stream), bucket-collect per fingerprint, enumerate
    * in-bucket pairs, count per pair. Fingerprints hitting more than
    * `maxDf` docs are DROPPED before pair enumeration — a ubiquitous
    * boilerplate phrase carries no overlap signal and would fan out
    * quadratically (the standard winnowing-at-scale guard; the span-dedup
    * family above is the tool for actually REMOVING such boilerplate). */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 64): DataFrame =
    df.select(col(idCol),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxDf)
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Cross-SOURCE overlap matrix on the winnow pairs — which sources copy
    * from each other (mirror sites, laundered crawls, shared wire copy):
    * per unordered source pair, how many cross-doc overlap pairs and how
    * much shared-fingerprint mass. ≤ |sources|² rows out; the pair list
    * is [[winnowOverlapPairs]]' (already maxDf-guarded), sources ride two
    * id-keyed joins of a 2-column projection. */
  def winnowOverlapBySource(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, k: Int = 4, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 64): DataFrame = {
    val src = df.select(col(idCol), col(srcCol))
    winnowOverlapPairs(df, idCol, textCol, k, w, minShared, maxDf)
      .join(src.select(col(idCol).as("id_a"), col(srcCol).as("src_a")), "id_a")
      .join(src.select(col(idCol).as("id_b"), col(srcCol).as("src_b")), "id_b")
      .select(least(col("src_a"), col("src_b")).as("sa"),
        greatest(col("src_a"), col("src_b")).as("sb"), col("n_shared"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_shared")).as("n_shared_fps"))
  }

  /** ASYMMETRIC containment on the winnow sketches: for each candidate
    * pair, the shared-fingerprint count plus both sketch sizes and the
    * per-side containment rate `shared · 10⁶ div |sketch|` in exact
    * integer ppm — `cont_a_ppm` near 10⁶ reads "most of A's fingerprints
    * appear in B" (A is quoted/embedded in B) even when B is huge and
    * symmetric overlap looks negligible. Same bucket algebra and `maxDf`
    * guard as [[winnowOverlapPairs]]; the sizes ride a broadcast-friendly
    * (id, size) projection, never the sketches themselves. */
  def winnowContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 64): DataFrame = {
    val sizes = df.select(col(idCol),
      size(winnowFingerprints(col(textCol), k, w)).cast("long").as("sz"))
    winnowOverlapPairs(df, idCol, textCol, k, w, minShared, maxDf)
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("sz_a"), col("sz_b"))
      .withColumn("cont_a_ppm", expr("n_shared * 1000000 div sz_a"))
      .withColumn("cont_b_ppm", expr("n_shared * 1000000 div sz_b"))
  }

  /** Per-doc gram NOVELTY against a prior corpus — the crawl-drop triage
    * score: how much of each new document's k-gram set is genuinely new
    * vs already in `gramIndex` ([[spanGramIndex]] of everything
    * ingested). Output (id, n_grams, n_new, novelty_ppm) with the rate in
    * exact integer ppm; docs with no grams score 0. One scan of the batch
    * (distinct grams per doc), one membership probe of the index
    * (bloom-staged when `bloomExpectedItems > 0` — the mostly-new bulk
    * never joins), one per-doc aggregate. The corpus is never rescanned. */
  def gramNoveltyScores(newDocs: DataFrame, gramIndex: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      bloomExpectedItems: Long = 0L,
      bloomBits: Long = 1L << 27): DataFrame = {
    val grams = spanGramOccurrences(newDocs, idCol, textCol, k)
      .select(col(idCol), col("h")).distinct()
    val seen = gramIndex.select(col("h").as("__seen_h"))
    val newGrams =
      if (bloomExpectedItems > 0)
        BloomJoin.bloomPrunedAntiJoin(grams, seen,
          "h", "__seen_h", bloomExpectedItems, bloomBits)
      else grams.join(seen, col("h") === col("__seen_h"), "left_anti")
    val tot = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val nov = newGrams.groupBy(col(idCol)).agg(count(lit(1)).as("__nn"))
    newDocs.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(nov, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("__nn"), lit(0L)).as("n_new"))
      .withColumn("novelty_ppm", when(col("n_grams") === 0, lit(0L))
        .otherwise(expr("n_new * 1000000 div n_grams")))
  }

  // -- exact duplicated-SPAN removal (ExactSubstr) -------------------------

  /** Positional k-gram occurrences: one row per (doc, word-position),
    * gram hashed with the cross-engine polynomial fold
    * ([[graft.functions.StringFoldHash]] semantics, computed by the
    * allocation-free [[graft.functions.WordGramFoldHashes]] scan-stage
    * kernel) so a foreign oracle replays every hash bit-for-bit.
    * Scan-stage only — nothing shuffles here. */
  private[graft] def spanGramOccurrences(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val hashes = ColumnShim.column(graft.functions.WordGramFoldHashes(
      ColumnShim.expression(col(textCol)), k))
    df.select(col(idCol), posexplode(hashes).as(Seq("pos", "h")))
  }

  /** Interpreted higher-order-function twin of [[spanGramOccurrences]] —
    * the executable semantics statement the kernel is spec-locked to;
    * test-only (PipelineSpec asserts bit-equality on the corpus and edge
    * strings). */
  private[graft] def spanGramOccurrencesFold(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val words = split(col(textCol), " +")
    df.select(col(idCol), explode(filter(
        transform(sequence(lit(0), greatest(size(words) - k, lit(0))),
          i => when(i + k <= size(words),
            struct(i.as("pos"), CorpusOverlap.foldHash(
              concat_ws(" ", slice(words, i + lit(1), lit(k)))).as("h")))),
        g => g.isNotNull)).as("g"))
      .select(col(idCol), col("g.pos"), col("g.h"))
  }

  /** Lexicographic (doc, pos) packed into one long so the canonical (=
    * first) occurrence of a gram is a plain `min` in a HashAggregate —
    * same trick as [[packedPos]]. Docs past 2M grams fail loudly under
    * ANSI rather than mis-pack. */
  private val SpanPack = 1L << 21

  private def spanPacked(idCol: String): Column =
    when(col("pos") < lit(SpanPack),
      col(idCol) * lit(SpanPack) + col("pos").cast("long"))
      .otherwise(raise_error(concat(
        lit(s"removeDuplicatedSpans: more than $SpanPack grams in doc "),
        col(idCol).cast("string"))))

  /** Covered word positions: every position inside ANY occurrence of a
    * k-gram that occurs ≥ 2 times corpus-wide (including twice within one
    * doc). With `keepFirst`, each duplicated gram's first occurrence (min
    * packed (doc, pos)) is exempt — the keep-one-copy policy. The
    * gram→count aggregate is map-side combined (shuffle ∝ distinct-gram
    * vocabulary); the duplicated-gram set is usually a tiny fraction of
    * the vocabulary, so AQE turns the join back into a broadcast and the
    * full position stream never exchanges. */
  private def coveredSpanPositions(occ: DataFrame, idCol: String,
      k: Int, keepFirst: Boolean = false): DataFrame =
    spanCoverArrays(duplicatedOccurrences(occ, idCol, keepFirst), idCol, k)
      .select(col(idCol), explode(col("__cov")).as("p"))

  /** The duplicated-occurrence rows feeding span coverage: every
    * occurrence of a gram seen ≥ 2 times corpus-wide, minus (under
    * `keepFirst`) each gram's min-packed first occurrence. */
  private def duplicatedOccurrences(occ: DataFrame, idCol: String,
      keepFirst: Boolean): DataFrame = {
    val packed = spanPacked(idCol)
    val dup = occ.groupBy(col("h")).agg(count(lit(1)).as("__c"),
        min(packed).as("__first"))
      .filter(col("__c") >= 2)
    if (keepFirst) occ.join(dup.select(col("h"), col("__first")), Seq("h"))
      .filter(packed =!= col("__first"))
    else occ.join(dup.select(col("h")), Seq("h"), "left_semi")
  }

  /** Per-doc covered-position ARRAYS `(id, __cov)` from duplicated
    * occurrence rows `(id, pos, …)` — round-14 fused form: ship ONE row
    * per duplicated occurrence into the per-doc exchange and take the
    * interval union in doc-local array algebra. The previous shape
    * exploded k positions per occurrence BEFORE a global distinct, so the
    * dedup exchange carried k× the rows (the all-duplicated 10× corpus
    * shuffled its full token stream × k), and reassembly then re-collected
    * the very same per-doc sets with a second imperative aggregate.
    * `collect_list` suffices (a gram start position occurs once per doc);
    * `array_distinct(∪ [pos, pos+k-1])` per doc ≡ the old global-distinct
    * (id, p) row set, and the array is bounded by doc length — the same
    * bound the old reassembly's collect_set already carried. */
  private def spanCoverArrays(posRows: DataFrame, idCol: String,
      k: Int): DataFrame =
    posRows
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__ps"))
      .select(col(idCol), sort_array(array_distinct(flatten(
        transform(col("__ps"), p => sequence(p, p + lit(k - 1)))))).as("__cov"))

  /** EXACT duplicated-span removal — the substring-level dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", ExactSubstr), k-gram formulation: any word span of length
    * ≥ k that appears at two or more positions in the corpus is removed
    * from EVERY document it occurs in (remove-all policy; a span
    * duplicated s times is exactly the set of positions covered by
    * duplicated k-grams, because every length-k window of a duplicated
    * span is itself duplicated). `keepFirst = true` is the paper's
    * keep-one-copy policy at gram granularity: each duplicated gram's
    * FIRST occurrence (min (doc, pos), packed-long min in the same
    * aggregate) stays, so the earliest doc keeps the span intact while
    * later occurrences are excised. `minSpanWords > k` applies the
    * paper's LONG-span policy: only maximal covered runs of at least
    * that many words are removed ([[longRunsOnly]]), so short accidental
    * overlaps survive. Doc-level dedup ([[nearDupPairs]])
    * cannot see this: boilerplate headers, license blocks, and templated
    * paragraphs repeat across otherwise-distinct documents and survive
    * whole-doc Jaccard — this operator excises the spans themselves.
    *
    * Output: (id, clean_text, n_words, n_removed), whitespace normalized
    * to single spaces. Words = `split(text, " +")` — the same
    * cross-engine tokenization as the shingle family.
    *
    * 100 TB posture: the only vocabulary-wide exchange is the map-side-
    * combined gram→count aggregate; coverage explodes duplicated
    * occurrences only; reassembly is per-doc array algebra
    * (`array_except` builds a hash set of the covered positions — linear,
    * never O(words × spans)) after ONE keyed join of the bounded
    * (doc → covered positions) list back to the doc scan. Fully
    * deterministic: no sampling, no randomness, fold-hash collisions
    * (~1e-9 per gram pair) replay identically in any engine. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, keepFirst: Boolean = false,
      minSpanWords: Int = 0): DataFrame = {
    val occ = spanGramOccurrences(df, idCol, textCol, k)
    if (minSpanWords > k)
      reassembleSpans(df, idCol, textCol,
        longRunsOnly(coveredSpanPositions(occ, idCol, k, keepFirst), idCol,
          minSpanWords))
    else
      // fused path (round-14): per-doc covered arrays flow straight into
      // reassembly — no k×-exploded distinct exchange, no second
      // position-set aggregate
      reassembleSpansCov(df, idCol, textCol,
        spanCoverArrays(duplicatedOccurrences(occ, idCol, keepFirst),
          idCol, k))
  }

  /** Keep only covered positions sitting in a MAXIMAL consecutive run of
    * length ≥ `minSpanWords` — the Lee et al. long-span policy (the paper
    * removes substrings of ≥ 50 tokens; the bare k-gram union also
    * excises every short accidental overlap). Gaps-and-islands: island
    * key = p − row_number over (doc, p-order) — a per-doc window over the
    * bounded covered-position stream, no global sort; run length = the
    * island's row count since positions are distinct and consecutive. */
  private def longRunsOnly(cov: DataFrame, idCol: String,
      minSpanWords: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("p"))
    cov.withColumn("__grp", col("p") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("p")).as("__s"), max(col("p")).as("__e"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= minSpanWords)
      .select(col(idCol),
        explode(sequence(col("__s"), col("__e"))).as("p"))
  }

  /** Rebuild clean docs from a (id, p) covered-position frame: per-doc
    * position-set aggregate (bounded by doc length), ONE keyed join back
    * onto the doc scan, scan-stage `array_except` reassembly (hash-set
    * linear in words + spans). */
  private def reassembleSpans(df: DataFrame, idCol: String, textCol: String,
      coveredPos: DataFrame): DataFrame =
    reassembleSpansCov(df, idCol, textCol, coveredPos
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("p"))).as("__cov")))

  /** [[reassembleSpans]] taking the per-doc covered set as an ARRAY frame
    * `(id, __cov)` — the fused form that skips the position-row roundtrip
    * when the producer already has doc-local arrays.
    *
    * Round-15: reassembly is the one-pass
    * [[graft.functions.ReassembleSpans]] kernel (split + index
    * array_except + per-position element_at + concat_ws allocated four
    * arrays per document; the kernel walks the text bytes once).
    * Bit-identical, spec-locked in ReassembleSpansSpec — including the
    * old chain's concat_ws quirk of "" (not NULL) for null text, restored
    * by the coalesce below. */
  private def reassembleSpansCov(df: DataFrame, idCol: String,
      textCol: String, covered: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val covArr = coalesce(col("__cov"), array().cast("array<int>"))
    val k = ColumnShim.column(graft.functions.ReassembleSpans(
      ColumnShim.expression(col(textCol)),
      ColumnShim.expression(covArr)))
    df.select(col(idCol), col(textCol))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), k.as("__r"))
      .select(col(idCol),
        coalesce(col("__r.clean_text"), lit("")).as("clean_text"),
        col("__r.n_words").cast("long").as("n_words"),
        col("__r.n_removed").cast("long").as("n_removed"))
  }

  /** Distinct gram-hash index of a corpus — the persisted state
    * [[removeDuplicatedSpansIncremental]] probes on each refresh drop.
    * One column `h`; membership is all the keep-first fold needs. */
  def spanGramIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame =
    spanGramOccurrences(df, idCol, textCol, k).select(col("h")).distinct()

  /** Incremental [[removeDuplicatedSpans]] under the `keepFirst` policy —
    * the corpus-refresh shape: scrub a NEW drop against the gram index of
    * everything already ingested (plus intra-batch firsts) without
    * rescanning the corpus. Returns (cleaned batch, the batch's
    * genuinely-NEW gram hashes) — the delta, so an append-only state
    * store writes just it; union it into `gramIndex` for the next drop.
    *
    * keep-first is THE incremental-compatible policy: an occurrence is
    * removed iff an earlier occurrence exists, and "earlier" never looks
    * forward — so, provided batch ids exceed all earlier ids (crawl drops
    * are append-ordered), folding batches through this function produces
    * EXACTLY the rows `removeDuplicatedSpans(union, keepFirst = true)`
    * would (q183 hash-proves it; remove-all cannot fold, since a later
    * drop would have to retro-edit shipped batches).
    *
    * Scale shape mirrors [[segmentDedupIncremental]]: the batch explodes
    * and self-aggregates; the big index is probed with
    * [[BloomJoin.bloomPrunedAntiJoin]] when `bloomExpectedItems > 0`
    * (bloom miss = proof of absence — the mostly-new bulk never joins),
    * plain left-anti otherwise. */
  def removeDuplicatedSpansIncremental(newDocs: DataFrame,
      gramIndex: DataFrame, idCol: String, textCol: String, k: Int = 8,
      bloomExpectedItems: Long = 0L,
      bloomBits: Long = 1L << 27): (DataFrame, DataFrame) = {
    // Round-15 staging (guide §1.5/§2.4, measured on q183: 8.9 s wall of
    // which only ~3 s was jobs — the rest was the driver re-optimizing
    // the SAME un-truncated subtrees once per consumer): the first-
    // occurrence aggregate is consumed twice by the bloom-pruned
    // anti-join's two branches, and the new-gram delta three times (the
    // coverage join, the returned index delta, and the next drop's
    // probe). Stage each once; the batch-firsts blocks die as soon as
    // the delta materializes and are released on return. The
    // RETURNED delta frame is the staged frame itself (result contract
    // as in nearDupPairs: callers need not re-stage it).
    graft.Checkpoints.staging { st =>
      val occ = spanGramOccurrences(newDocs, idCol, textCol, k)
      val batchFirsts0 = occ.groupBy(col("h"))
        .agg(min(spanPacked(idCol)).as("__first"))
      val batchFirsts =
        if (bloomExpectedItems > 0) st.track(batchFirsts0.staged)
        else batchFirsts0
      val seen = gramIndex.select(col("h").as("__seen_h"))
      val newFirsts = graft.Checkpoints.stage(
        if (bloomExpectedItems > 0)
          BloomJoin.bloomPrunedAntiJoin(batchFirsts, seen,
            "h", "__seen_h", bloomExpectedItems, bloomBits)
        else batchFirsts.join(seen, col("h") === col("__seen_h"), "left_anti"))
      // covered: every occurrence of an already-seen gram (null __first),
      // or a non-first occurrence of a batch-new gram — exactly q182's
      // "an earlier occurrence exists", with the index standing in for
      // all of the past
      val coveredRows = occ.join(newFirsts, Seq("h"), "left")
        .filter(col("__first").isNull || spanPacked(idCol) =!= col("__first"))
      // fused coverage (round-14): same interval-union-in-arrays shape as
      // removeDuplicatedSpans — one row per covered occurrence exchanges,
      // never k× exploded position rows
      (reassembleSpansCov(newDocs, idCol, textCol,
          spanCoverArrays(coveredRows, idCol, k)),
        newFirsts.select(col("h")))
    }
  }

  /** Corpus duplication PROFILE by `groupCol` (source/lang/shard): how
    * much of each group's token mass sits inside duplicated spans — the
    * "how much of this crawl is boilerplate" diagnostic run before paying
    * for [[removeDuplicatedSpans]]' reassembly. Same duplicated-gram
    * definition; output ≤ |groups| rows of exact integer counts plus the
    * removal rate in exact-integer ppm (no float division — replays
    * bit-for-bit). */
  def duplicatedSpanProfile(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int = 8, minSpanWords: Int = 0): DataFrame = {
    val occ = spanGramOccurrences(df, idCol, textCol, k)
    val covAll = coveredSpanPositions(occ, idCol, k)
    val cov = if (minSpanWords > k) longRunsOnly(covAll, idCol, minSpanWords)
      else covAll
    val docTok = df.select(col(idCol), col(groupCol),
      size(split(col(textCol), " +")).cast("long").as("__n"))
    val tot = docTok.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    val dupTok = cov.join(docTok.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__nd"))
    tot.join(dupTok, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        coalesce(col("__nd"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_ppm", when(col("n_tokens") === 0, lit(0L))
        .otherwise(expr("n_dup_tokens * 1000000 div n_tokens")))
  }
}
