package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as higher-order
  * expressions — codegen-evaluated per row inside the scan stage, no UDFs,
  * no shuffles (north-star similarity ops; no counterpart in the reference).
  *
  * Fold order is fixed (left fold over element index) so results are
  * bit-reproducible across engines: the DuckDB oracle mirrors
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0.0, +)` as
  * `list_reduce(list_prepend(0.0, [a[i]*b[i] for i ...]), (acc,v) -> acc+v)`.
  */
object VectorOps {

  /** Left-fold sum of an array<double> with explicit 0.0 init. */
  private def foldSum(products: Column): Column =
    aggregate(products, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float vectors, accumulated in double.
    *
    * Runs as the native codegen'd [[FloatVecDot]] expression (a fused JIT
    * loop in the scan stage); [[dotFold]] keeps the declarative higher-order
    * form as its bit-identical semantics statement / oracle twin. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(FloatVecDot(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Declarative twin of [[dot]] — interpreted per element; used only to
    * pin down the semantics in tests (CatalystSpec asserts bit-equality). */
  def dotFold(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(normSq(a)) * sqrt(normSq(b))
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** [[cosine]] for code that scores outside Catalyst, from the parts
    * the expression computes: `dot` = a·b and `normA`, `normB` =
    * `sqrt(x·x)` of each side, every product by [[FloatVecDot.dot]]. The
    * `denom > 0` guard compares as Spark SQL does, where NaN is above
    * every number, so a NaN denominator scores NaN, not 0. */
  def cosineOf(dot: Double, normA: Double, normB: Double): Double = {
    val denom = normA * normB
    if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(denom, 0.0) > 0) dot / denom
    else 0.0
  }

  /** Squared L2 distance. */
  def l2Sq(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }))

  def l2(a: Column, b: Column): Column = sqrt(l2Sq(a, b))

  /** Sign-bit signature against `planes` fixed hyperplanes (random-projection
    * LSH for cosine distance): bit i = [dot(v, plane_i) >= 0]. Returns a
    * BIGINT bucket id (planes.length <= 63). Deterministic given the planes,
    * which the caller generates from a seed.
    *
    * Runs as the fused native [[HyperplaneSig]] expression (one nested JIT
    * loop over a primitive plane matrix); [[hyperplaneSignatureFold]] keeps
    * the declarative form as its bit-identical semantics twin. */
  def hyperplaneSignature(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 63, "1..63 planes")
    require(planes.map(_.length).distinct.size == 1, "equal plane dims")
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(HyperplaneSig(ColumnShim.expression(v),
      planes.flatten.toArray, planes.length))
  }

  /** Declarative twin of [[hyperplaneSignature]] — interpreted; test-only. */
  def hyperplaneSignatureFold(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 63, "1..63 planes")
    planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dotFold(v, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Max |x_i| over a float vector (left fold, double). */
  def maxAbs(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))

  /** Symmetric int8 quantization against a per-vector scale (the standard
    * embedding-store compression: 4× smaller than float32, recall loss
    * usually <1%): `q_i = floor(x_i/scale + 0.5)` — round-half-up, chosen
    * over banker's rounding because floor is bit-identical in every engine.
    * Callers derive `scale = maxAbs(v)/127` (guard scale=0 → all-zero q).
    * Pure per-row projection; no shuffle. */
  def int8Quantize(a: Column, scale: Column): Column =
    transform(a, x =>
      when(scale > 0, floor(x.cast("double") / scale + lit(0.5)).cast("int"))
        .otherwise(lit(0)))

  /** Per-vector int8 code packed into BINARY (one byte per component —
    * the genuine 4× row-width cut; `array<int>` keeps 4-byte Tungsten
    * elements). Native codegen'd [[Int8Code]]; same rounding as
    * [[int8Quantize]] with `scale = maxAbs/127` (CatalystSpec locks the
    * two together). */
  def int8Code(a: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(Int8Code(ColumnShim.expression(a)))
  }

  /** Cosine over two [[int8Code]] byte vectors (scale-free: the
    * per-vector quantization scales cancel in dot/(|a||b|)). Native
    * codegen'd [[Int8Cosine]]. */
  def int8Cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(Int8Cosine(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Squared reconstruction error of a quantized vector:
    * Σ (x_i − q_i·scale)² as a left fold — the quality metric that decides
    * whether int8 is safe for a given embedding family. */
  def dequantSqError(a: Column, q: Column, scale: Column): Column =
    foldSum(zip_with(a, q, (x, qi) => {
      val d = x.cast("double") - qi.cast("double") * scale; d * d
    }))

  /** Deterministic pseudo-random unit-free hyperplanes (xorshift-seeded). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }
}
