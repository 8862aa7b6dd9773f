package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import graft.functions.{FloatVecDot, Int8Code, Int8Cosine, TopCentroids, VectorOps}

/** The scalar vector kernels (`FloatVecDot.dot`, `Int8Code.code`,
  * `Int8Cosine.cosine`, `TopCentroids.top`, `VectorOps.cosineOf`) equal
  * the generated code of the expressions they back. `nullSafeEval` calls
  * them, so this pins the interpreted path, the driver-side probe
  * routing and the in-scan search scoring to the codegen'd one. */
class VecKernelSpec extends SparkSpec {

  private val dim = 16
  private val numCentroids = 8

  /** Bit equality, NaN equal to NaN. */
  private def same(a: Double, b: Double) = java.lang.Double.compare(a, b) == 0

  test("scalar kernels equal their codegen'd expressions on float, double and int8 vectors") {
    val rng = new scala.util.Random(17)
    def gauss(): Double = rng.nextGaussian()
    // a: probe side (float / double); b: stored side, with zero, NaN and
    // null rows
    val rows = (0 until 60).map { i =>
      val af = if (i % 11 == 0) Array.fill(dim)(0f) else Array.fill(dim)(gauss().toFloat)
      val ad = if (i % 13 == 0) Array.fill(dim)(0.0) else Array.fill(dim)(gauss())
      val bf: Array[Float] = i % 7 match {
        case 0 => null
        case 1 => Array.fill(dim)(0f)
        case 2 => Array.tabulate(dim)(j => if (j == 3) Float.NaN else gauss().toFloat)
        case _ => Array.fill(dim)(gauss().toFloat)
      }
      val bd = if (i % 5 == 0) null else Array.fill(dim)(gauss())
      Row(i.toLong, af.toSeq, ad.toSeq, Option(bf).map(_.toSeq).orNull,
        Option(bd).map(_.toSeq).orNull)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("af", ArrayType(FloatType)), StructField("ad", ArrayType(DoubleType)),
      StructField("bf", ArrayType(FloatType)), StructField("bd", ArrayType(DoubleType))))
    // an RDD-backed frame, so the projection runs in whole-stage codegen
    // rather than folding into a local relation on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val centroids = Array.fill(numCentroids * dim)(gauss())
    def top(c: String) = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col(c)), centroids, numCentroids, 3))
    val out = df.select(col("id"), col("af"), col("ad"), col("bf"), col("bd"),
      VectorOps.dot(col("af"), col("bf")).as("dot_ff"),
      VectorOps.dot(col("af"), col("bd")).as("dot_fd"),
      VectorOps.dot(col("ad"), col("bd")).as("dot_dd"),
      VectorOps.int8Code(col("af")).as("code_f"),
      VectorOps.int8Code(col("bd")).as("code_d"),
      VectorOps.int8Cosine(VectorOps.int8Code(col("af")),
        VectorOps.int8Code(col("bf"))).as("i8cos"),
      top("af").as("top_f"), top("ad").as("top_d"),
      VectorOps.cosine(col("af"), col("bf")).as("cos_ff"),
      VectorOps.cosine(col("ad"), col("bf")).as("cos_df"))
    val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
    val got = try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      assert(out.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
      out.collect()
    } finally spark.conf.set("spark.sql.codegen.fallback", saved)
    assert(got.length === rows.length)

    def data(r: Row, i: Int, float: Boolean): ArrayData =
      if (r.isNullAt(i)) null
      else if (float) UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)
      else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](i).toArray)
    def dbl(r: Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    def dotOf(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean) =
      Option(y).map(FloatVecDot.dot(x, xf, _, yf))
    def cosineOf(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean) =
      if (y == null) 0.0 // the CASE's else branch: null denominator
      else VectorOps.cosineOf(FloatVecDot.dot(x, xf, y, yf),
        math.sqrt(FloatVecDot.dot(x, xf, x, xf)),
        math.sqrt(FloatVecDot.dot(y, yf, y, yf)))
    var zeroCos, nullCos, nanCos = 0
    got.foreach { r =>
      val (af, ad) = (data(r, 1, true), data(r, 2, false))
      val (bf, bd) = (data(r, 3, true), data(r, 4, false))
      def check(name: String, i: Int, want: Option[Double]) = {
        val have = dbl(r, i)
        assert(have.isDefined === want.isDefined &&
          have.zip(want).forall { case (h, w) => same(h, w) },
          s"$name row ${r.getLong(0)}: codegen $have, kernel $want")
      }
      check("dot(float, float)", 5, dotOf(af, true, bf, true))
      check("dot(float, double)", 6, dotOf(af, true, bd, false))
      check("dot(double, double)", 7, dotOf(ad, false, bd, false))
      assert(r.getAs[Array[Byte]](8).toSeq === Int8Code.code(af, true).toSeq)
      assert(Option(r.getAs[Array[Byte]](9)).map(_.toSeq) ===
        Option(bd).map(Int8Code.code(_, false).toSeq))
      check("int8 cosine", 10, Option(bf).map(b => Int8Cosine.cosine(
        Int8Code.code(af, true), Int8Code.code(b, true))))
      assert(r.getSeq[Int](11) ===
        TopCentroids.top(af, true, centroids, numCentroids, 3).toSeq)
      assert(r.getSeq[Int](12) ===
        TopCentroids.top(ad, false, centroids, numCentroids, 3).toSeq)
      check("cosine(float, float)", 13, Some(cosineOf(af, true, bf, true)))
      check("cosine(double, float)", 14, Some(cosineOf(ad, false, bf, true)))
      // the behaviours the in-scan scorer keeps: a zero vector scores 0.0,
      // a null stored vector 0.0 on the float path and null on the int8
      // path, and a NaN component makes the cosine NaN
      if (bf == null) {
        nullCos += 1
        assert(r.getDouble(13) === 0.0 && r.isNullAt(10))
      } else if (r.getSeq[Float](3).exists(_.isNaN)) {
        nanCos += 1
        assert(r.getDouble(13).isNaN)
      } else if (r.getSeq[Float](1).forall(_ == 0f) ||
          r.getSeq[Float](3).forall(_ == 0f)) {
        zeroCos += 1
        assert(r.getDouble(13) === 0.0 && r.getDouble(10) === 0.0)
      }
    }
    assert(zeroCos > 0 && nullCos > 0 && nanCos > 0,
      s"fixture lacks a case: zero $zeroCos, null $nullCos, NaN $nanCos")
  }
}
