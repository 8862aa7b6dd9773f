package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Allocation-free fast path for the money-rollup projection
  * `CAST(ROUND(x, s) AS DECIMAL(p,s))` / `CAST(x AS DECIMAL(p,s))` — the
  * round-15 optimization of every decimal-discipline aggregate (q01, q06,
  * q20, q22, q90, …, and the 60 M-row q20 lane).
  *
  * Why: Spark's `Round(double, s)` and `Cast(double → decimal)` each
  * evaluate `java.math.BigDecimal.valueOf(x)` per row, which calls
  * `Double.toString` (shortest-decimal rendering — digit loop + char array
  * + String + BigDecimal allocations); the round-14 AggProbe measured the
  * pair at +388 ms per 600 k rows on q20's aggregate (verdict recorded in
  * commit `c2d76fb`). This expression computes the same unscaled long
  * with ~10 flops per row and constructs the result with
  * `Decimal(unscaled, p, s)` — a long-backed Decimal, no BigDecimal, no
  * string — falling back to the exact BigDecimal form only
  * in the provably ambiguous cases.
  *
  * BIT-IDENTITY ARGUMENT (FastDecimalSpec property-locks it, boundary
  * adversaries included). Both `Round(x, s)` (HALF_UP) and
  * `Cast(x as decimal(p,s))` round the SHORTEST-DECIMAL representation of
  * x (`BigDecimal.valueOf`) at scale s, HALF_UP; composing the two at equal
  * scale is idempotent, so all three forms share one unscaled value
  * r = round_half_up(shortest(x)·10^s). The kernel computes y = |x|·10^s
  * in double (one correctly-rounded multiply). The combined error of
  * (shortest-vs-binary ≤ ½ulp) + (multiply ≤ ½ulp) is < 2^-52·y, so
  * whenever frac(y) is farther than GUARD = 1e-15·y (≥ 4× that bound)
  * from the 0.5 tie boundary, ⌊y+0.5⌋ provably equals r; ties and
  * near-ties fall back to the BigDecimal reference. Integer-boundary
  * drift is harmless (⌊y+0.5⌋ moves only at frac = 0.5). The fast path is
  * gated to y < 10^15: there r < 2^53 is exact in double, fits
  * precision ≤ 18, and the half-ulp drift bound stays ≪ 0.5, which also
  * makes round-then-cast ≡ direct cast on every fast-path value (the two
  * can diverge only above the gate, where the slow path replays the exact
  * composition the expression replaces — `roundFirst` keeps them apart).
  *
  * Negative zero: BigDecimal has no signed zero, so every form returns
  * +0-valued unscaled 0 — the kernel returns unscaled 0 before applying
  * the sign. NaN/±Infinity → NULL exactly like Cast (which nulls them even
  * under ANSI; FastDecimalSpec's parity test measured it). FINITE
  * precision overflow (|x| ≥ 10^(p-s)) errors under ANSI and returns NULL
  * otherwise, with `ansi` captured at construction exactly like Cast
  * captures its EvalMode — unreachable on the fast path, which only emits
  * values of ≤ 16 digits against p ≥ 18.
  */
case class MoneyDec(child: Expression, precision: Int, scale: Int,
    roundFirst: Boolean, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  require(precision >= 1 && precision <= 18 &&
    scale >= 0 && scale <= precision,
    s"money_dec supports DECIMAL(p<=18, 0<=s<=p), got ($precision,$scale)")

  override def dataType: DataType = DecimalType(precision, scale)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"money_dec expects double, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    MoneyDec.compute(input.asInstanceOf[Double], precision, scale,
      roundFirst, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.MoneyDec.compute($v, $precision, $scale,
        $roundFirst, $ansi);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): MoneyDec =
    copy(child = newChild)

  override def prettyName: String = "money_dec"
}

object MoneyDec {
  private val Pow10: Array[Double] = Array.tabulate(19)(i => math.pow(10, i))
  private val Pow10L: Array[Long] = Array.tabulate(19)(i =>
    BigInt(10).pow(i).toLong)

  /** Fast-path gate: below this, r < 2^53 (exact long), ≤ 16 digits
    * (no precision-18 overflow), and the drift bound 2^-52·y ≪ 0.5. */
  private val MaxFast = 1e15

  /** `CAST(x AS DECIMAL(p,s))` — the `dec()` money-column view. */
  def dec(c: Column, precision: Int, scale: Int): Column =
    ColumnShim.column(MoneyDec(ColumnShim.expression(c),
      precision, scale, roundFirst = false))

  /** `CAST(ROUND(x, s) AS DECIMAL(p,s))` — the rounded-revenue rollup. */
  def roundDec(c: Column, precision: Int, scale: Int): Column =
    ColumnShim.column(MoneyDec(ColumnShim.expression(c),
      precision, scale, roundFirst = true))

  /** Static kernel shared by eval and generated code. Returns null for
    * NULL-producing inputs (NaN/Inf/overflow under non-ANSI). */
  def compute(x: Double, precision: Int, scale: Int,
      roundFirst: Boolean, ansi: Boolean): Decimal = {
    // Cast(double → decimal) maps NaN/±Inf to NULL even under ANSI (only
    // FINITE overflow errors there) — measured against Spark 4.1's Cast in
    // FastDecimalSpec's throw-parity test
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      return null
    val p10 = Pow10(scale)
    val ax = math.abs(x)
    val y = ax * p10
    if (y < MaxFast) {
      val f = y.toLong
      val frac = y - f.toDouble
      val d = frac - 0.5
      val guard = y * 1e-15
      if (d < -guard || d > guard) {
        val r = if (d < 0) f else f + 1L
        if (r == 0L) return Decimal(0L, precision, scale)
        if (r < Pow10L(precision))
          return Decimal(if (x < 0) -r else r, precision, scale)
      }
    }
    slow(x, precision, scale, roundFirst, ansi)
  }

  /** Exact reference: replays the replaced expression tree literally —
    * Round-then-Cast when `roundFirst` (they can diverge from the direct
    * cast above the fast-path gate, where double spacing exceeds the
    * scale), plain Cast otherwise. */
  private def slow(x: Double, precision: Int, scale: Int,
      roundFirst: Boolean, ansi: Boolean): Decimal = {
    val x1 =
      if (roundFirst)
        java.math.BigDecimal.valueOf(x)
          .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
      else x
    val bd = java.math.BigDecimal.valueOf(x1)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    if (bd.precision > precision) {
      if (ansi) throw new ArithmeticException(
        s"[NUMERIC_VALUE_OUT_OF_RANGE] money_dec: $x does not fit " +
          s"DECIMAL($precision,$scale)")
      null
    } else Decimal(BigDecimal(bd), precision, scale)
  }
}
