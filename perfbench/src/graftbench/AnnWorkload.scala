package graftbench

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** `ann_index`: a persisted IVF index (built during set-up) under a closed
  * loop of `searchIvfIndex` probe batches mixed with maintenance writes
  * (`deleteFromIvfIndex` / `upsertIntoIvfIndex` of 1% of ids and
  * `compactIvfIndex`): six searches to three writes per round, so one
  * round exercises every op. Reads and writes share one
  * generation-manifest store. The benchmark keeps the live set itself:
  * exact neighbours (for recall) and the deleted ids come from it. */
object AnnWorkload {
  val Centroids = 64
  val ProbeBatch = 50
  val K = 5
  val NProbe = 8
  /** Share of the ids each delete removes; the next upsert re-inserts
    * them with moved vectors. */
  val WriteShare = 0.01
  /** Probes per batch that re-find the last upserted vectors. */
  val UpsertProbes = 5
  /** Nominal length of one round on a 4-core machine (see [[Ctx.loop]]). */
  val RoundSeconds = 12.0
  /** Searches before the first timed op. */
  val WarmupSearches = 3

  type Live = HashMap[Long, Array[Float]]

  def frame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by brute force over the live set. */
  def exactTopK(live: Live, probe: Array[Float], k: Int): Seq[Long] =
    live.iterator.map { case (id, v) => (cosine(probe, v), id) }
      .toSeq.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val t = ctx.tracer
    val seed = ctx.seed
    val vecPath = s"${ctx.work}/vectors"
    val idx = s"${ctx.work}/ann/index"
    val vecs = ctx.timeGen {
      val v = Gen.vectors(seed)
      frame(spark, v).repartition(4).write.mode("overwrite").parquet(vecPath)
      v
    }
    var live: Live = HashMap.from(vecs)
    val allIds = vecs.map(_._1).toIndexedSeq
    val corpus = spark.read.parquet(vecPath)

    ctx.setupReps(1)(Ann.buildIvfIndex(corpus, "vec_id", "embedding", idx,
      numCentroids = Centroids))
    if (t.enabled) rec.layer("ann.build_s") = Util.median(rec.setupReps.toSeq)

    def probes(n: Long, upserted: Seq[(Long, Array[Float])]): Seq[(Long, Array[Float])] = {
      val base = (0 until ProbeBatch - upserted.size).map { j =>
        val id = allIds(Gen.below(seed ^ 0x88L, n, j, allIds.size))
        val v = live.getOrElse(id, vecs(id.toInt)._2)
        (-(1L + n * ProbeBatch + j), Gen.perturb(seed, n * ProbeBatch + j, v, 0.05))
      }
      base ++ upserted.zipWithIndex.map { case ((_, v), j) =>
        (-(1L + n * ProbeBatch + base.size + j), v) }
    }
    def search(ps: Seq[(Long, Array[Float])]): Map[Long, Seq[(Long, Double)]] =
      Ann.searchIvfIndex(spark, idx, frame(spark, ps), "vec_id", "embedding",
        k = K, nProbe = NProbe)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)) }

    // warm-up: the read path (the build already ran the write path), until
    // the JIT has compiled its hot code
    ctx.warmup((1 to WarmupSearches).foreach(i => search(probes(-i, Nil))))

    // (probe, returned top-k, live set at search time) for recall
    val answered = scala.collection.mutable.ArrayBuffer.empty[(Array[Float], Seq[Long], Live)]
    var deleted = Seq.empty[Long]
    var lastUpserted = Seq.empty[(Long, Array[Float])]
    var reads = 0L
    var writes = 0L
    val perWrite = math.max(1, (allIds.size * WriteShare).toInt)
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probed = scala.collection.mutable.ArrayBuffer.empty[Double]

    def searchOp(): Unit = {
      val ps = probes(reads, lastUpserted)
      val snap = live
      val gone = deleted.toSet
      val check = lastUpserted
      reads += 1
      t.op(rec, "search", "search") {
        val res = t.span("ann.search")(search(ps))
        val leaked = res.values.flatten.map(_._1).filter(gone)
        if (leaked.nonEmpty)
          rec.check("no_deleted_id_returned", ok = false, s"deleted ids returned: ${leaked.take(5)}")
        val unfound = check.zip(ps.takeRight(check.size)).filter { case ((id, _), (q, _)) =>
          !res.get(q).exists(_.headOption.exists(_._1 == id))
        }
        if (unfound.nonEmpty)
          rec.check("upserted_id_searchable", ok = false,
            s"upserted ids not found by their own vector: ${unfound.map(_._1._1).take(5)}")
        ps.dropRight(check.size).foreach { case (q, v) =>
          answered += ((v, res.getOrElse(q, Nil).map(_._1), snap)) }
        leaked.isEmpty && unfound.isEmpty
      }
      rec.items += ps.size
      if (t.enabled) probed += t.extra("ann.lists_probed")(Ann.probedCidCount(spark, idx,
        frame(spark, ps), "vec_id", "embedding", NProbe)).toDouble
    }

    def writeOp(cls: String)(f: => Unit): Unit = {
      val before = if (t.enabled) Util.files(idx) else Map.empty[String, Long]
      t.op(rec, "write", cls) { t.span(s"ann.$cls")(f); true }
      writes += 1
      if (t.enabled)
        rewritten += Util.files(idx).filter { case (f, _) => !before.contains(f) }.values.sum / 1e6
    }

    def delete(): Unit = {
      val ids = live.keysIterator.toIndexedSeq.sorted
      val pick = (0 until perWrite)
        .map(j => ids(Gen.below(seed ^ 0xaaL, writes, j, ids.size))).distinct
      writeOp("delete")(Ann.deleteFromIvfIndex(spark, idx,
        frame(spark, pick.map(i => (i, live(i)))), "vec_id"))
      live = live -- pick
      deleted = pick
      lastUpserted = Nil
    }

    def upsert(): Unit = {
      val moved = deleted.map(i => (i, Gen.perturb(seed ^ 0xbbL, writes * 100000L + i,
        vecs(i.toInt)._2, 0.05)))
      writeOp("upsert")(Ann.upsertIntoIvfIndex(frame(spark, moved),
        "vec_id", "embedding", idx))
      live = live ++ moved
      deleted = Nil
      lastUpserted = moved.take(UpsertProbes)
    }

    // one round: delete, searches that must not see the deleted ids,
    // upsert, searches that must find the upserted ones, compact
    ctx.loop(RoundSeconds) {
      delete(); (1 to 3).foreach(_ => searchOp())
      upsert(); (1 to 3).foreach(_ => searchOp())
      writeOp("compact")(Ann.compactIvfIndex(spark, idx))
    }
    rec.check("no_deleted_id_returned", true)
    rec.check("upserted_id_searchable", true)

    // recall@k against exact neighbours of the live set each search saw
    val recall = answered.map { case (v, got, snap) =>
      exactTopK(snap, v, K).count(got.contains).toDouble / K
    }
    rec.values("recall_at_5") = recall.toSeq
    if (t.enabled) {
      rec.layer("ann.lists_probed") = Util.median(probed.toSeq)
      rec.layer("ann.write_rewritten_mb") = Util.median(rewritten.toSeq)
      rec.layer("ann.index_mb") = Util.files(idx).values.sum / 1e6
    }
  }
}
