package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct 64-bit shingle hashes of a string — the VERIFY-side twin
  * of [[WordNgrams]]. Emits `sort_array(array_distinct(transform(
  * word_ngrams(text, n), s -> xxhash64(s))))` (bit-identical, spec-locked:
  * the hash is Spark's own `xxhash64` — XXH64 over the UTF8 bytes, seed 42 —
  * so `pmod(h, 2^31-1)` of an element equals [[graft.operators.Dedup
  * .shingleHash]] of the corresponding shingle string and the MinHash path
  * stays bit-for-bit unchanged when derived from this kernel's output).
  *
  * Why it exists: the exact-Jaccard verify stage of the LSH near-dup flow
  * dominated the heaviest bench probe (x_dedup10x_pairs 11.9 s of the
  * 15.9 s full path) because every candidate pair intersected ARRAYS OF
  * STRINGS — two hash-set builds (array_intersect + array_union) over
  * UTF8String keys per pair, and the string arrays rode both verify-join
  * shuffles. Hashing in the scan stage makes the join payload 8 bytes per
  * shingle and turns the per-pair verify into one branch-free merge over
  * sorted longs ([[SortedLongJaccard]]).
  *
  * Exactness: hashed-set Jaccard equals string-set Jaccard unless two
  * DISTINCT shingles of the same doc pair collide in 64 bits — probability
  * ≈ S²·2⁻⁶⁴ per pair (< 10⁻¹² at S = 10⁴ shingles), and the tri-scale
  * DuckDB oracle gate (exact string Jaccard on the full pair set) verifies
  * zero collisions on the fixtures. Consumers that promise BIT-exactness
  * ([[graft.operators.Dedup.ngramJaccardPairs]]) keep the string verify. */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"n-gram order must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngram_hashes expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgramHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WordNgramHashes.compute($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_hashes"
}

object WordNgramHashes {
  /** Static kernel shared by eval and generated code: same tokenization and
    * n-gram join as [[WordNgrams.compute]], then Spark's xxhash64 (seed 42)
    * per n-gram, sort, in-place dedup. Round-15 shape: each n-gram's UTF-8
    * bytes are a contiguous slice of [[SpaceTokens]]' normalized buffer,
    * hashed in place — no per-window StringBuilder/String/UTF8String
    * round-trip (bit-identical; PipelineSpec's hashed-shingle lock). */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val tk = SpaceTokens.tokenize(s)
    if (tk.numToks < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val m = tk.numToks - n + 1
    val hs = new Array[Long](m)
    val norm = tk.norm
    val starts = tk.starts
    var i = 0
    while (i < m) {
      val st = starts(i)
      hs(i) = XXH64.hashUnsafeBytes(norm,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + st,
        tk.end(i + n - 1) - st, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** Exact Jaccard |∩|/|∪| of two SORTED DISTINCT long arrays in one merge
  * pass — the verify kernel over [[WordNgramHashes]] output. Bit-identical
  * to `size(array_intersect(a, b)) / size(array_union(a, b))` on the same
  * arrays (spec-locked) for any non-empty union, without the two per-pair
  * hash-set builds. The 0/0 edge (two EMPTY sets — short docs below the
  * shingle order) returns NULL, matching Spark's `Divide`-by-zero
  * semantics, so `jaccard_sorted_hashes(a, b) >= t` DROPS an empty/empty
  * pair exactly like the string-shingle division path does. (A NaN here
  * would invert that: Spark orders NaN above every number, so the filter
  * would KEEP the pair.) Inputs MUST be sorted distinct; both producers
  * in this package guarantee it. */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // can produce NULL (empty/empty → 0/0) even from non-null children
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted_hashes expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = SortedLongJaccard.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(v)) null else v
  }

  // NaN is compute()'s internal 0/0 marker (unreachable otherwise: inter
  // and union are small non-negative ints) — surfaced as SQL NULL here
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.SortedLongJaccard.compute($a, $b);
         |if (java.lang.Double.isNaN(${ev.value})) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = 0.0;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedLongJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sorted_hashes"
}

object SortedLongJaccard {
  /** Static merge kernel shared by eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val la = a.numElements()
    val lb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < la && j < lb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = la + lb - inter
    // NaN = internal 0/0 marker; the Expression translates it to NULL
    if (union == 0) Double.NaN else inter.toDouble / union
  }

  /** Threshold-gated merge: returns the EXACT Jaccard when it is >= `t`,
    * NaN otherwise (the caller's filter discards sub-threshold pairs, so
    * their exact value is never needed) — which licenses two
    * decision-exact early exits the plain kernel cannot take:
    *
    *  - entry: even a full overlap of the smaller set cannot reach `t`
    *    (the size-ratio bound J <= min/max, here per pair and free);
    *  - per step: the remaining elements cannot lift the intersection to
    *    `need` = the minimal k with k/(la+lb-k) >= t (k/(total-k) is
    *    increasing in k, so inter_max < need proves the final J < t under
    *    the SAME IEEE >= the filter would apply).
    *
    * On candidate streams where most pairs fail (cross-size LSH noise at
    * high thresholds) the merge stops after a prefix instead of walking
    * both arrays. Kept pairs compute the full merge — value bit-identical
    * to [[compute]]. */
  def computeGE(a: ArrayData, b: ArrayData, t: Double): Double = {
    val la = a.numElements()
    val lb = b.numElements()
    val total = la + lb
    if (total == 0) return Double.NaN // 0/0 edge, same as compute()
    // minimal integer k with k.toDouble/(total-k) >= t, by the exact
    // double compare the filter uses (closed form then +-1 adjust so
    // float rounding can never make the exit unsound)
    var need = math.ceil(t * total / (1.0 + t)).toInt
    while (need > 0 && (need - 1).toDouble / (total - (need - 1)) >= t)
      need -= 1
    while (need <= total && need.toDouble / (total - need) < t) need += 1
    var i = 0
    var j = 0
    var inter = 0
    while (i < la && j < lb) {
      // inter can only grow by the shorter remainder
      val rem = math.min(la - i, lb - j)
      if (inter + rem < need) return Double.NaN
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = total - inter
    if (union == 0) Double.NaN
    else {
      val v = inter.toDouble / union
      if (v >= t) v else Double.NaN
    }
  }
}

/** [[SortedLongJaccard]] fused with its `>= threshold` filter: the exact
  * Jaccard when it meets the threshold, SQL NULL otherwise — so
  * `filter(jaccard_ge IS NOT NULL)` keeps EXACTLY the rows
  * `filter(jaccard >= t)` keeps, with the same jaccard values, while
  * sub-threshold pairs exit the merge as soon as the intersection bound
  * proves they cannot pass ([[SortedLongJaccard.computeGE]]). The
  * empty/empty 0/0 pair returns NULL like the plain kernel. */
case class SortedLongJaccardGE(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {

  // the threshold is interpolated into generated Java source (doGenCode):
  // NaN/Infinity would produce uncompilable codegen (janino failure at
  // runtime) and NaN would also split interpreted vs codegen behavior —
  // and a Jaccard threshold outside [0, 1] is meaningless anyway
  require(java.lang.Double.isFinite(threshold) &&
      threshold >= 0.0 && threshold <= 1.0,
    s"jaccard_sorted_hashes_ge threshold must be finite in [0, 1], got $threshold")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted_hashes_ge expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = SortedLongJaccard.computeGE(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], threshold)
    if (java.lang.Double.isNaN(v)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.SortedLongJaccard.computeGE($a, $b, $threshold);
         |if (java.lang.Double.isNaN(${ev.value})) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = 0.0;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedLongJaccardGE =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sorted_hashes_ge"
}

/** How many elements of a long array occur in a fixed SORTED DISTINCT
  * long set — the per-doc probe of a doc's [[WordNgramHashes]] against
  * an eval set's n-gram hashes ([[graft.operators.Decontam
  * .keepUncontaminated]]), and of a one-element id array against a
  * micro-batch's near-dup losers ([[graft.streaming.StreamingCuration
  * .withoutIds]]). One binary search per element, so a doc costs
  * O(|doc| log |set|) with no explode and no join. Over distinct input
  * elements (the [[WordNgramHashes]] contract) the count is the doc's
  * overlap count. The set is a reference object of the generated class,
  * so the class text does not depend on the set's contents. */
case class SortedLongHits(child: Expression, set: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_long_hits expects array<bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    SortedLongHits.count(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("hitSet", set, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SortedLongHits.count($a, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedLongHits =
    copy(child = newChild)

  override def prettyName: String = "sorted_long_hits"
}

object SortedLongHits {
  /** Static kernel shared by eval and generated code. */
  def count(a: ArrayData, set: Array[Long]): Int = {
    var hits = 0
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i) &&
        java.util.Arrays.binarySearch(set, a.getLong(i)) >= 0) hits += 1
      i += 1
    }
    hits
  }
}

/** POSITIONAL k-gram fold hashes of a string — the scan-stage kernel
  * behind [[graft.operators.Dedup.removeDuplicatedSpans]]: element i is
  * [[StringFoldHash]] of the space-joined k-gram starting at word i
  * (split `" +"`, trailing empties kept — Spark `split` semantics), NOT
  * distinct and NOT sorted, so `posexplode` yields the (pos, h) stream
  * the duplicated-span machinery aggregates.
  *
  * Why it exists: the declarative form (`transform(sequence(...), i ->
  * string_fold_hash(concat_ws(' ', slice(words, i+1, k))))`) is a
  * CodegenFallback higher-order chain that allocates a sliced array and
  * a joined string per position — the q180 hot path (x_spandedup probe).
  * The kernel exploits that the polynomial fold is LEFT-LINEAR:
  * fold(acc, s·t) = fold(fold(acc, s), t) = acc·31^cplen(t) + fold0(t),
  * so per-token prefix values (fold0, 31^cplen mod p) computed once make
  * each position O(k) modular ops with zero allocation. Spec-locked to
  * the declarative twin ([[graft.operators.Dedup
  * .spanGramOccurrencesFold]]) and to the cross-engine DuckDB replay
  * (q180–q183 oracles fold the same joined gram strings). */
case class WordGramFoldHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"gram order must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_gram_fold_hashes expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    WordGramFoldHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WordGramFoldHashes.compute($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordGramFoldHashes =
    copy(child = newChild)

  override def prettyName: String = "word_gram_fold_hashes"
}

object WordGramFoldHashes {
  private val P = 1000000007L

  /** Static kernel shared by eval and generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split(" +", -1)
    if (toks.length < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val m = toks.length
    // per-token prefix values: f(t) = fold of t from acc 0,
    // pw(t) = 31^codepointLen(t) mod p — fold(acc, t) = acc·pw + f
    val f = new Array[Long](m)
    val pw = new Array[Long](m)
    var t = 0
    while (t < m) {
      val tok = toks(t)
      var acc = 0L
      var pow = 1L
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        acc = (acc * 31L + cp) % P
        pow = (pow * 31L) % P
        i += Character.charCount(cp)
      }
      f(t) = acc; pw(t) = pow
      t += 1
    }
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i < m - n + 1) {
      var acc = f(i)
      var j = 1
      while (j < n) {
        acc = (acc * 31L + 32L) % P        // the joining space (cp 32)
        acc = (acc * pw(i + j) + f(i + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** WINNOWING fingerprint sketch of a string (Schleimer, Wilkerson &
  * Aiken 2003, the MOSS local fingerprinting scheme): sorted distinct
  * sliding-window minima over the positional k-gram fold hashes
  * ([[WordGramFoldHashes]]), window `w` grams. Guarantee: two documents
  * sharing any word span of at least w + k − 1 words share at least one
  * fingerprint — position-robust PARTIAL-overlap detection, the case
  * whole-doc MinHash dilutes (a copied paragraph inside two otherwise
  * different documents barely moves doc-level Jaccard but always
  * surfaces here). Docs with fewer than `w` grams contribute the single
  * min over all their grams; gram-less docs an empty sketch.
  *
  * Scan-stage kernel: gram hashing via the shared left-linear fold, then
  * an O(n) monotonic-deque sliding min, then sort + in-place dedup — the
  * sketch is a few fingerprints per w words, so the exploded (doc, fp)
  * stream is ~1/w of the gram stream. Spec-locked to the declarative
  * HOF twin ([[graft.operators.Dedup.winnowFingerprintsFold]]). */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression {

  require(n >= 1, s"gram order must be >= 1, got $n")
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($v, $n, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprints"
}

object WinnowFingerprints {
  /** Static kernel shared by eval and generated code. */
  def compute(s: UTF8String, n: Int, w: Int): ArrayData = {
    val grams = WordGramFoldHashes.compute(s, n)
    val m = grams.numElements()
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val hs = grams.toLongArray()
    val nw = math.max(1, m - w + 1)
    val out = new Array[Long](nw)
    // monotonic deque of indices; front = argmin of the current window
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < m) {
      while (tail > head && deque(head) <= i - w) head += 1 // left the window
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (i >= w - 1) out(i - w + 1) = hs(deque(head))
      i += 1
    }
    if (m < w) out(0) = hs(deque(head)) // short doc: single min over all
    java.util.Arrays.sort(out)
    var wr = 0
    var r = 0
    while (r < nw) {
      if (wr == 0 || out(r) != out(wr - 1)) { out(wr) = out(r); wr += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (wr == nw) out else java.util.Arrays.copyOf(out, wr))
  }
}
