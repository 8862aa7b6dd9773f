package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** LSH band signatures of a MinHash signature in one precompiled loop:
  * element `b` of the output is band `b`'s signature, the XXH64 (seed 42)
  * of the UTF-8 bytes of signature elements `[b·r, (b+1)·r)` printed as
  * decimal longs and joined by ",", where `r` = length / `bands`.
  *
  * Those are exactly the bytes `xxhash64(concat_ws(",", element_at(sig,
  * b·r + 1), …))` hashes (a NULL element is skipped with its separator,
  * as `concat_ws` skips it), so band rows are bit-identical to the
  * declarative form `BandSigsSpec` keeps as a twin. At the default 64
  * hashes in 16 bands that form is over a hundred Catalyst nodes, which
  * whole-stage codegen must emit and compile in every plan that stages
  * band signatures; this expression is one static call. */
case class BandSigs(child: Expression, bands: Int) extends UnaryExpression {

  require(bands >= 1, s"band count must be >= 1, got $bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_sigs expects array<bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    BandSigs.compute(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BandSigs.compute($v, $bands);")

  override protected def withNewChildInternal(newChild: Expression): BandSigs =
    copy(child = newChild)

  override def prettyName: String = "band_sigs"
}

object BandSigs {
  /** Static kernel shared by eval and generated code. The signature's
    * length must be a multiple of `bands`. */
  def compute(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    require(n % bands == 0,
      s"band_sigs: $bands bands must divide the signature length $n")
    val rows = n / bands
    // a decimal long is at most 20 bytes, plus one separator each
    val buf = new Array[Byte](rows * 21)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var len = 0
      var i = b * rows
      while (i < (b + 1) * rows) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','.toByte; len += 1 }
          len = writeLong(sig.getLong(i), buf, len)
        }
        i += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Writes `Long.toString(x)`'s bytes into `buf` at `at`; returns the end.
    * Digits come off the non-positive magnitude, so `Long.MinValue` needs
    * no special case. */
  private def writeLong(x: Long, buf: Array[Byte], at: Int): Int = {
    var pos = at
    if (x < 0) { buf(pos) = '-'.toByte; pos += 1 }
    var q = if (x < 0) x else -x
    var digits = 1
    var t = q / 10
    while (t != 0) { digits += 1; t /= 10 }
    var j = pos + digits - 1
    while (j >= pos) {
      buf(j) = ('0' - (q % 10)).toByte
      q /= 10
      j -= 1
    }
    pos + digits
  }
}
