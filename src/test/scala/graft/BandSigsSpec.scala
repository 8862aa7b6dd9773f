package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import graft.functions.{BandSigs, MinHashSig}

/** The [[BandSigs]] kernel equals the declarative band-signature form
  * `xxhash64(concat_ws(",", element_at(sig, i) …))` it replaced in
  * `Dedup.bandSigArray`, bit for bit: interpreted eval, whole-stage
  * generated code and the twin below agree on every geometry the
  * repository bands with, on MinHash signatures and on arbitrary longs. */
class BandSigsSpec extends SparkSpec {

  /** The declarative twin: band `b` hashes elements `[b·r, (b+1)·r)`
    * joined by ","; NULL where the signature is NULL, as the old
    * `withBandSigs` guarded it and `lshBands` filtered it. */
  private def twin(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    when(sig.isNotNull, array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (b * rows until (b + 1) * rows).map(i => element_at(sig, i + 1)): _*))
    }: _*))
  }

  private def kernel(sig: Column, bands: Int): Column =
    ColumnShim.column(BandSigs(ColumnShim.expression(sig), bands))

  test("band-signature kernel: eval, generated code and the xxhash64(concat_ws) twin agree") {
    val rng = new scala.util.Random(29)
    val extremes = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L,
      Long.MinValue + 1, -10L, 10L, 999999999999L, -1000000000000000000L)
    def randomSig(n: Int): Seq[java.lang.Long] = Seq.fill(n) {
      val x = rng.nextInt(4) match {
        case 0 => extremes(rng.nextInt(extremes.size))
        case 1 => rng.nextInt(2147483647).toLong
        case _ => rng.nextLong()
      }
      java.lang.Long.valueOf(x)
    }
    // MinHash signatures of the fixture's documents at both signature
    // lengths (NULL for a document with no shingles)
    def minhash(n: Int) = Tables.documents(spark, sf0001).select(
      (col("doc_id") * 10 + n).as("id"),
      ColumnShim.column(MinHashSig(ColumnShim.expression(col("text")), 3, n,
        42L)).as("sig"))
    val fixture = minhash(64).union(minhash(32)).collect().toSeq
    assert(fixture.count(_.isNullAt(1)) < fixture.size / 2)
    val random = (0 until 400).map(i =>
      Row(-1L - i, randomSig(if (i % 2 == 0) 64 else 32)))
    val edge = Seq(Row(-1000L, null),
      // a NULL element: concat_ws skips it with its separator
      Row(-1001L, randomSig(63).patch(17, Seq(null), 0)),
      Row(-1002L, Seq.fill(64)(java.lang.Long.valueOf(Long.MinValue))))
    val rows = fixture ++ random ++ edge
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("sig", ArrayType(LongType, containsNull = true))))
    // an RDD-backed frame, so the projection runs in whole-stage codegen
    // rather than folding into a local relation on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema).cache()

    def longs(r: Row, i: Int): Seq[Long] =
      if (r.isNullAt(i)) null else r.getSeq[Long](i)
    for ((numHashes, bands) <- Seq((64, 16), (64, 8), (32, 4), (64, 64))) {
      val sigs = df.filter(col("sig").isNull || size(col("sig")) === numHashes)
      val out = sigs.select(col("id"), col("sig"),
        kernel(col("sig"), bands).as("kernel"),
        twin(col("sig"), numHashes, bands).as("twin"))
      val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
      val got = try {
        spark.conf.set("spark.sql.codegen.fallback", "false")
        assert(out.queryExecution.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
        out.collect()
      } finally spark.conf.set("spark.sql.codegen.fallback", saved)
      assert(got.length > 200, s"$numHashes/$bands: too few signatures")
      assert(got.exists(_.isNullAt(1)), s"$numHashes/$bands: a NULL signature")
      if (numHashes == 64) assert(got.exists(r => !r.isNullAt(1) &&
        r.getSeq[java.lang.Long](1).contains(null)), "a NULL element")
      got.foreach { r =>
        val where = s"$numHashes/$bands id ${r.getLong(0)}"
        assert(longs(r, 2) === longs(r, 3), s"$where: codegen vs twin")
        val eval = BandSigs(Literal(
          if (r.isNullAt(1)) null
          else new GenericArrayData(r.getSeq[java.lang.Long](1).toArray[Any]),
          ArrayType(LongType, containsNull = true)), bands).eval()
        assert(Option(eval).map(_.asInstanceOf[UnsafeArrayData]
          .toLongArray().toSeq).orNull === longs(r, 2), s"$where: eval")
        if (!r.isNullAt(1)) assert(longs(r, 2).size === bands)
      }
    }
    df.unpersist()
  }

  test("band-signature kernel refuses a band count that does not divide the signature") {
    val bad = UnsafeArrayData.fromPrimitiveArray(Array.fill(10)(7L))
    val e = intercept[IllegalArgumentException](BandSigs.compute(bad, 4))
    assert(e.getMessage.contains("divide"))
  }
}
