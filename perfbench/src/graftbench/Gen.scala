package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, index), so the same seed gives identical input rows on any
  * machine and partitioning, and a different seed gives different ones.
  * Ground truth (planted clusters, contaminated ids) is returned beside
  * the inputs and never written where the program reads. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + a) ^ (b * 0xd6e8feb86659fd93L + 0x632be59bd9b4e019L))
  /** Uniform double in [0, 1). */
  def unit(seed: Long, a: Long, b: Long): Double =
    (h(seed, a, b) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, a: Long, b: Long, n: Int): Int =
    (unit(seed, a, b) * n).toInt
  /** Standard normal (Box-Muller over two uniforms). */
  def gauss(seed: Long, a: Long, b: Long): Double = {
    val u1 = math.max(unit(seed, a, 2 * b), 1e-300)
    val u2 = unit(seed, a, 2 * b + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ---------------------------------------------------------------- lineitem

  /** TPC-H-shaped lineitem: 1 M rows (about two sf0.1 lineitems) in 40
    * files, enough files that file-level sampling skips I/O. */
  val LineitemRows = 1000000L
  val LineitemFiles = 40

  /** The lineitem table as Spark expressions over the row index: every
    * column is a seeded xxhash64 of (seed, row, column), so generation runs
    * codegen'd on the executors and the rows depend on the seed alone. */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    def hv(salt: Int, mod: Long): Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod))
    val cutoff = to_date(lit("1995-06-17"))
    spark.range(0L, LineitemRows, 1L, LineitemFiles)
      .withColumn("l_orderkey", col("id").divide(4).cast("long") + 1)
      .withColumn("l_partkey", hv(1, 200000L) + 1)
      .withColumn("l_suppkey", hv(2, 10000L) + 1)
      .withColumn("l_linenumber", (pmod(col("id"), lit(4L)) + 1).cast("int"))
      .withColumn("l_quantity", (hv(3, 50L) + 1).cast("double"))
      .withColumn("l_extendedprice", (col("l_quantity").cast("long") *
        (lit(90000L) + pmod(col("l_partkey").divide(10).cast("long"), lit(20001L)) +
          lit(100L) * pmod(col("l_partkey"), lit(1000L)))) / lit(100.0))
      .withColumn("l_discount", hv(4, 11L) / lit(100.0))
      .withColumn("l_tax", hv(5, 9L) / lit(100.0))
      .withColumn("l_shipdate", date_add(to_date(lit("1992-01-02")),
        hv(6, 2525L).cast("int")))
      .withColumn("l_returnflag", when(col("l_shipdate") <= cutoff,
        when(hv(7, 2L) === 0, lit("R")).otherwise(lit("A"))).otherwise(lit("N")))
      .withColumn("l_linestatus", when(col("l_shipdate") <= cutoff, lit("F"))
        .otherwise(lit("O")))
      .drop("id")
  }

  // ------------------------------------------------------------------- docs

  /** Base documents; each gets [[NearCopies]] near-duplicate copies, so the
    * corpus holds Bases × (1 + NearCopies) docs plus exact copies. */
  val DocBases = 300
  val NearCopies = 9
  private val Vocab = 50000
  private val Stopwords = Array("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it")
  private val Sources = Array("web", "books", "news")

  final case class Doc(id: Long, text: String, source: String)
  /** Corpus plus its ground truth: the base each doc copies, the planted
    * exact copies and the docs planted with eval text. */
  final case class Corpus(docs: IndexedSeq[Doc], baseOf: Map[Long, Int],
      exactCopies: Set[Long], contaminated: Set[Long]) {
    /** Every planted copy: the near copies and the exact copies. */
    def plantedCopies: Set[Long] =
      docs.iterator.map(_.id).filter(id => id >= DocBases).toSet
  }

  private def word(k: Int): String = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val sb = new StringBuilder
    var x = k + 1
    while (x > 0) {
      sb += cons.charAt(x % cons.length); x /= cons.length
      sb += vow.charAt(x % vow.length); x /= vow.length
    }
    sb.toString
  }

  private def baseWords(s: Long, b: Int): IndexedSeq[String] = {
    val n = 40 + below(s, b, 0, 80)
    (0 until n).map { j =>
      // a stopword never follows a stopword, so every 3-gram holds a
      // content word and unrelated docs share no 3-gram by chance
      val stop = unit(s, b, 1000 + j) < 0.12 && j % 2 == 0
      if (stop) Stopwords(below(s, b, 2000 + j, Stopwords.length))
      else word(below(s, b, 3000 + j, Vocab))
    }
  }

  private def sentences(ws: IndexedSeq[String]): String =
    ws.grouped(12).map(_.mkString(" ")).mkString(". ") + "."

  /** Curation corpus. Ids: base b is `b`, its near copy j is
    * `j * DocBases + b`, exact copies follow from `10 * DocBases`; so an
    * ascending-id stream meets every base before its copies. Each near
    * copy appends a token of its own, which keeps every pair of a cluster
    * above 0.8 shingle Jaccard (a clique). About 1% of bases (and thus
    * their whole clusters) carry a 12-word window of an eval doc
    * (`id % 97 == 0`); 3% of bases are junk the quality filter drops. */
  def corpus(seed: Long): Corpus = {
    val s = seed ^ 0x22L
    val evalBases = (0 until DocBases).filter(_ % 97 == 0)
    val junk = (0 until DocBases).filter(b => unit(s, b, 1) < 0.03).toSet
    val words = (0 until DocBases).map { b =>
      if (junk(b)) IndexedSeq("!!", "??", word(below(s, b, 2, Vocab)), "##")
      else baseWords(s, b)
    }
    val planted = (0 until DocBases).filter { b =>
      b % 97 != 0 && !junk(b) && unit(s, b, 3) < 0.01
    }
    val withPlants = planted.foldLeft(words) { (ws, b) =>
      val e = evalBases(below(s, b, 4, evalBases.size))
      val src = words(e)
      val at = below(s, b, 5, math.max(1, src.size - 12))
      ws.updated(b, ws(b) ++ src.slice(at, at + 12))
    }
    val baseText = withPlants.map(sentences)
    val near = for (j <- 1 to NearCopies; b <- 0 until DocBases) yield {
      val id = j.toLong * DocBases + b
      Doc(id, s"${baseText(b)} zq${id}x", Sources(b % Sources.length))
    }
    val bases = (0 until DocBases).map(b =>
      Doc(b.toLong, baseText(b), Sources(b % Sources.length)))
    val exactBases = (0 until DocBases).filter(b => unit(s, b, 6) < 0.03)
    val exact = exactBases.zipWithIndex.map { case (b, k) =>
      Doc(10L * DocBases + k, baseText(b), Sources(b % Sources.length))
    }
    val docs = bases ++ near ++ exact
    val baseOf = (bases.map(d => d.id -> d.id.toInt) ++
      near.map(d => d.id -> (d.id % DocBases).toInt) ++
      exact.zip(exactBases).map { case (d, b) => d.id -> b }).toMap
    val plantedSet = planted.toSet
    Corpus(docs, baseOf, exact.map(_.id).toSet,
      docs.iterator.map(_.id).filter(id => plantedSet(baseOf(id))).toSet)
  }

  // ----------------------------------------------------------------- vectors

  val VecBases = 500
  val VecCopies = 10
  val Dim = 64
  private val Topics = 100

  private def topic(s: Long, t: Int): Array[Double] =
    Array.tabulate(Dim)(d => gauss(s, 7000000L + t, d))

  /** 500 base vectors around 100 topic centres, each perturbed ten
    * times: 5 k × 64 floats. Vector `b * VecCopies + c` is copy c of
    * base b. */
  def vectors(seed: Long): IndexedSeq[(Long, Array[Float])] = {
    val s = seed ^ 0x33L
    val topics = (0 until Topics).map(topic(s, _))
    (0 until VecBases).flatMap { b =>
      val t = topics(below(s, b, 1, Topics))
      val base = Array.tabulate(Dim)(d => t(d) + 0.5 * gauss(s, b, 100 + d))
      (0 until VecCopies).map { c =>
        val id = b.toLong * VecCopies + c
        id -> Array.tabulate(Dim)(d =>
          (base(d) + 0.05 * gauss(s, 1000000L + id, d)).toFloat)
      }
    }
  }

  /** A fresh perturbation of vector `v` (used for probes and upserts). */
  def perturb(seed: Long, key: Long, v: Array[Float], scale: Double): Array[Float] =
    Array.tabulate(v.length)(d => (v(d) + scale * gauss(seed ^ 0x44L, key, d)).toFloat)

  // ------------------------------------------------------------------ digest

  /** SHA-256 of a workload's generated inputs, for determinism checks. The
    * lineitem rows enter through an order-independent aggregate of their
    * row hashes (count, xor and sum), computed by `spark`. */
  def digest(workload: String, seed: Long, spark: => SparkSession): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    workload match {
      case "aqp_mixed" =>
        val li = lineitem(spark, seed)
        val h = xxhash64(li.columns.map(col).toIndexedSeq: _*)
        put(li.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000003L))))
          .head().toString)
      case "curate_stream" =>
        val c = corpus(seed)
        c.docs.foreach(d => put(s"${d.id}\t${d.source}\t${d.text}\n"))
        put(c.contaminated.toSeq.sorted.mkString(","))
      case "ann_index" =>
        vectors(seed).foreach { case (id, v) => put(s"$id:${v.mkString(",")}\n") }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
