package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot product over `array<float|double>` vectors.
  *
  * The declarative form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is
  * semantically right but Spark evaluates higher-order lambdas INTERPRETED,
  * one function-call tree per element (the repo's measured ~100× penalty on
  * dense numeric kernels; see PLANS.md MinHash history). This expression
  * generates the obvious fused `for` loop inside whole-stage codegen
  * instead, so vector scoring stays in the scan stage at JIT speed.
  *
  * Accumulation is a left fold in index order with a 0.0 init, elements
  * widened float→double before multiplying — bit-identical to the
  * higher-order form (CatalystSpec asserts it) and to the DuckDB oracle's
  * `list_reduce(list_prepend(0.0, ...))` twin, so swapping it in changes no
  * query result.
  *
  * Mixed element types are supported ((float, double) etc.) because LSH
  * hyperplanes are plan-baked double literals while embeddings are float.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot expects array<float|double> inputs, got ($l, $r)")
    }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA =
        if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB =
        if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ($getA) * ($getB);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object FloatVecDot {

  /** The per-row math of [[FloatVecDot]]: a left fold in index order over
    * the common prefix, `xFloat`/`yFloat` saying whether each side holds
    * floats (widened to double) or doubles. `nullSafeEval` and code that
    * scores vectors outside Catalyst call this; VecKernelSpec pins it to
    * the generated loop. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }
}

/** Fused b-bit random-hyperplane signature: bit p = [dot(v, plane_p) >= 0],
  * all `bits` dots in ONE generated nested loop over a flattened primitive
  * `double[]` plane matrix (row p = plane_p, length bits·dim).
  *
  * Why an expression and not `bits` × [[FloatVecDot]]: a probe row's bucket
  * array references its signature in 1 + bits XOR-variant entries and
  * Catalyst does not CSE across array elements — 8 tables × 9 entries × 8
  * dots inlined 576 fused loops into one generated method and blew janino's
  * method limit (whole-stage codegen fell back to interpreted). One
  * signature per table per row, computed over a primitive plane matrix, is
  * both the smallest and the fastest form.
  *
  * Bit-identical to the declarative when(dot >= 0) · 2^p sum
  * (CatalystSpec asserts): same left-fold accumulation in index order, same
  * float→double widening, same >= 0 test. */
case class HyperplaneSig(child: Expression, planes: Array[Double], bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(bits >= 1 && bits <= 63 && planes.length % bits == 0,
    s"bits=$bits planes=${planes.length}")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private val dim: Int = planes.length / bits

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val fv = isFloat
    var sig = 0L
    var p = 0
    while (p < bits) {
      var acc = 0.0
      val base = p * dim
      val n = math.min(v.numElements(), dim)
      var i = 0
      while (i < n) {
        val x = if (fv) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * planes(base + i)
        i += 1
      }
      if (acc >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.freshName("p"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val sig = ctx.freshName("sig")
      val base = ctx.freshName("base"); val n = ctx.freshName("n")
      val getV = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |long $sig = 0L;
         |for (int $p = 0; $p < $bits; $p++) {
         |  double $acc = 0.0;
         |  int $base = $p * $dim;
         |  int $n = java.lang.Math.min($v.numElements(), $dim);
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ($getV) * $planesRef[$base + $i];
         |  }
         |  if ($acc >= 0.0) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sig"
}

/** Polynomial rolling hash over a string's code points:
  * `acc = (acc·31 + codepoint) mod 1e9+7`, left-to-right — the fold
  * [[graft.operators.TextAnalysis.fingerprint]] declares via
  * `aggregate(split(s, ""), ...)`, which Spark evaluates INTERPRETED with a
  * per-character function-call tree plus a per-character string allocation
  * from the split (the repo's measured ~100× penalty class; see PLANS.md).
  * This generates the obvious code-point loop instead, keeping document
  * fingerprinting inside whole-stage codegen.
  *
  * Bit-identical to the declarative form (PipelineSpec asserts on mixed
  * ASCII/CJK input): `split(s, "")` yields one element per code POINT (Java
  * regex does not split surrogate pairs) and `ascii(c)` is that element's
  * code point, so iterating `String.codePointAt` is the same sequence.
  * Normalization (trim/lower/whitespace-collapse) stays declarative in the
  * caller — those built-ins already codegen. */
case class StringFoldHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"string_fold_hash expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |java.lang.String $s = $v.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StringFoldHash =
    copy(child = newChild)

  override def prettyName: String = "string_fold_hash"
}

/** Symmetric per-vector int8 code of a float/double vector, packed into
  * BINARY — one byte per component, the 4× width cut that makes quantized
  * ANN verify candidates cheap to move (array<int> would keep 4-byte
  * elements in Tungsten rows; only BinaryType actually shrinks the row).
  * `scale = max|x|/127`, `code_i = floor(x_i/scale + 0.5)` — identical
  * rounding to [[graft.functions.VectorOps.int8Quantize]], whose
  * array<int> form is the spec-locked declarative twin (CatalystSpec).
  * The scale itself is NOT stored: cosine over codes is scale-free
  * (the per-vector scales cancel in dot/(|a||b|)). All-zero vectors
  * code to all-zero bytes. */
case class Int8Code(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_code expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    Int8Code.code(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val x = ctx.freshName("x")
      val out = ctx.freshName("out"); val scale = ctx.freshName("scale")
      val getV = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = java.lang.Math.abs($getV);
         |  if ($x > $m) $m = $x;
         |}
         |byte[] $out = new byte[$n];
         |if ($m > 0.0) {
         |  double $scale = $m / 127.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) (int) java.lang.Math.floor(($getV) / $scale + 0.5);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Code =
    copy(child = newChild)

  override def prettyName: String = "int8_code"
}

object Int8Code {

  /** The per-row math of [[Int8Code]]: the int8 code of `v`, whose
    * elements are floats when `vFloat`, else doubles. */
  def code(v: ArrayData, vFloat: Boolean): Array[Byte] = {
    val n = v.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
      val ax = math.abs(x)
      if (ax > m) m = ax
      i += 1
    }
    val out = new Array[Byte](n)
    if (m > 0.0) {
      val scale = m / 127.0
      i = 0
      while (i < n) {
        val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = math.floor(x / scale + 0.5).toInt.toByte
        i += 1
      }
    }
    out
  }
}

/** Cosine similarity of two [[Int8Code]] byte vectors: integer dot and
  * norms over the signed codes (exact 32/64-bit integer arithmetic — the
  * per-vector quantization scales cancel), one double division at the
  * end; 0 when either code is all-zero. The quantized twin of
  * [[FloatVecDot]]-based cosine for the ANN verify stage: ~1% cosine
  * error on unit embeddings, 4× narrower candidate rows. */
case class Int8Cosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"int8_cosine expects (binary, binary), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8Cosine.cosine(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val denom = ctx.freshName("denom")
      s"""
         |if ($a.length != $b.length) {
         |  throw new IllegalArgumentException(
         |    "int8_cosine: code length mismatch " + $a.length + " vs " + $b.length);
         |}
         |int $n = $a.length;
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xi = (long) $a[$i]; long $yi = (long) $b[$i];
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb);
         |${ev.value} = ($denom > 0.0) ? ((double) $dot) / $denom : 0.0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8Cosine =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int8_cosine"
}

object Int8Cosine {

  /** The per-row math of [[Int8Cosine]]. */
  def cosine(x: Array[Byte], y: Array[Byte]): Double = {
    // a length mismatch is a dimension bug upstream — fail loudly rather
    // than score a truncated prefix that looks like a plausible cosine
    if (x.length != y.length) throw new IllegalArgumentException(
      s"int8_cosine: code length mismatch ${x.length} vs ${y.length}")
    val n = x.length
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val xi = x(i).toLong; val yi = y(i).toLong
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (denom > 0.0) dot.toDouble / denom else 0.0
  }
}

/** Indices of the `nProbe` centroids with the highest dot product against
  * the input vector, from a flattened row-major `double[]` centroid matrix
  * (k rows × dim). One fused generated loop: score all k centroids, then
  * nProbe argmax passes with masking. Ties break to the LOWEST index
  * (strict `>` comparison), so the result is deterministic.
  *
  * Centroids are expected L2-NORMALIZED by the caller, which makes
  * dot-product order == cosine order for any fixed input vector (the
  * row's own norm is a positive constant across candidates).
  * Returns array<int> of length nProbe (k >= nProbe). A vector whose
  * length is not the centroids' dimension throws: it has no distance to
  * them, and scoring a prefix would route it silently. */
case class TopCentroids(child: Expression, centroids: Array[Double],
    k: Int, nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1 && nProbe >= 1 && nProbe <= k && centroids.length % k == 0,
    s"k=$k nProbe=$nProbe centroids=${centroids.length}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_centroids expects array<float|double>, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private val dim: Int = centroids.length / k

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(TopCentroids.top(
      input.asInstanceOf[ArrayData], isFloat, centroids, k, nProbe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val scores = ctx.freshName("scores"); val taken = ctx.freshName("taken")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      val base = ctx.freshName("base"); val n = ctx.freshName("n")
      val p = ctx.freshName("p"); val j = ctx.freshName("j")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val getV = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException("top_centroids: a vector of " +
         |    $n + " components against centroids of dimension $dim");
         |}
         |double[] $scores = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  double $acc = 0.0;
         |  int $base = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ($getV) * $cRef[$base + $i];
         |  }
         |  $scores[$c] = $acc;
         |}
         |boolean[] $taken = new boolean[$k];
         |int[] $out = new int[$nProbe];
         |for (int $p = 0; $p < $nProbe; $p++) {
         |  int $best = -1;
         |  double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $k; $j++) {
         |    if (!$taken[$j] && $scores[$j] > $bestScore) { $best = $j; $bestScore = $scores[$j]; }
         |  }
         |  $taken[$best] = true;
         |  $out[$p] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(child = newChild)

  override def prettyName: String = "top_centroids"
}

object TopCentroids {

  /** The per-row math of [[TopCentroids]]: the `nProbe` nearest of the `k`
    * centroids in the flat row-major `centroids` matrix to `v` (floats
    * when `vFloat`, else doubles), nearest first. */
  def top(v: ArrayData, vFloat: Boolean, centroids: Array[Double], k: Int,
      nProbe: Int): Array[Int] = {
    val dim = centroids.length / k
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"top_centroids: a vector of $n components against centroids of " +
        s"dimension $dim")
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      var acc = 0.0
      val base = c * dim
      var i = 0
      while (i < n) {
        val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * centroids(base + i)
        i += 1
      }
      scores(c) = acc
      c += 1
    }
    val out = new Array[Int](nProbe)
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        if (!taken(j) && scores(j) > bestScore) { best = j; bestScore = scores(j) }
        j += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    out
  }
}
