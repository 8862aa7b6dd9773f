package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins the staging-frame lifecycle the whole engine leans on (round-12
  * verdict item 2): [[Checkpoints.release]] must ACTUALLY free a local
  * checkpoint's storage blocks (a Spark upgrade that changes the analyzed
  * plan's leaf class would silently turn every release site back into
  * accumulate-until-GC — invisible to every oracle), a released frame's
  * re-read must fail loudly (the free() contract), and the
  * `spark.graft.reliableCheckpoints` escape hatch must route [[Checkpoints
  * .stage]] to recoverable checkpoint FILES for cluster posture (round-12
  * verdict item 5). */
class CheckpointsSpec extends SparkSpec {

  private def leafRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }

  /** RDD ids currently registered as persistent with the context —
    * updated synchronously by persist/unpersist (block removal itself is
    * async; the re-read probe below covers that half). */
  private def persistentIds(s: SparkSession): Set[Int] =
    s.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def eventually(deadlineSec: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(100); ok = cond }
    ok
  }

  // FIRST in the suite: later tests set a context-global checkpoint dir,
  // which would satisfy this require
  test("reliable flag without a checkpoint dir fails loudly at stage time") {
    val s2 = spark.newSession()
    s2.conf.set(Checkpoints.ReliableConf, "true")
    val e = intercept[IllegalArgumentException] {
      Checkpoints.stage(s2.range(0, 10).toDF("id"))
    }
    assert(e.getMessage.contains("setCheckpointDir"))
  }

  test("release frees localCheckpoint blocks now; a released frame's re-read fails loudly") {
    val df = Checkpoints.stage(
      spark.range(0, 200000).toDF("id").repartition(4))
    val ids = leafRddIds(df)
    assert(ids.size === 1, "a staged frame is a single-LogicalRDD plan")
    assert(df.count() === 200000L)
    assert(persistentIds(spark).contains(ids.head),
      "localCheckpoint must register storage blocks")
    Checkpoints.release(df)
    assert(!persistentIds(spark).contains(ids.head),
      "release must unregister the checkpoint's RDD from storage")
    // block removal is async (blocking=false): poll until the lineage-
    // truncated frame can no longer be read — the free() contract
    val failed = eventually(20) {
      try { df.count(); false }
      catch { case _: Throwable => true }
    }
    assert(failed,
      "re-reading a released local checkpoint must fail (its lineage is " +
        "truncated and its blocks are gone); a silent success means " +
        "release no-opped")
  }

  test("release is a no-op on plans without a LogicalRDD leaf") {
    val df = spark.range(0, 100).toDF("id").filter(col("id") > 10)
    Checkpoints.release(df) // must not throw
    assert(df.count() === 89)
  }

  test("release refuses a multi-leaf plan (join of two checkpoints) at the call site") {
    val a = Checkpoints.stage(spark.range(0, 1000).toDF("id"))
    val b = Checkpoints.stage(
      spark.range(0, 1000).toDF("id").withColumn("x", col("id") * 2))
    val joined = a.join(b, "id")
    val e = intercept[IllegalArgumentException] { Checkpoints.release(joined) }
    assert(e.getMessage.contains("LogicalRDD leaves"),
      s"multi-leaf release must fail loudly, got: ${e.getMessage}")
    // neither side was touched: both remain readable, then clean up
    assert(a.count() === 1000L && b.count() === 1000L)
    Checkpoints.release(a)
    Checkpoints.release(b)
  }

  test("release accepts a single-leaf PROJECTION over a checkpoint (the dupClusters shape)") {
    val staged = Checkpoints.stage(
      spark.range(0, 50000).toDF("id").withColumn("cluster", col("id") / 10))
    val projection = staged.select(col("id"), col("cluster"))
    val id = leafRddIds(staged).head
    Checkpoints.release(projection) // single leaf — the owned-leaf contract holds
    assert(!persistentIds(spark).contains(id),
      "releasing a projection must free the underlying checkpoint's blocks")
  }

  test("Staging tracker releases every tracked frame in one call") {
    val st = new Checkpoints.Staging
    val a = st.stage(spark.range(0, 50000).toDF("id"))
    val b = st.track(Checkpoints.stage(
      spark.range(0, 50000).toDF("id").withColumn("x", col("id") * 2)))
    val idA = leafRddIds(a).head
    val idB = leafRddIds(b).head
    assert(persistentIds(spark).contains(idA) &&
      persistentIds(spark).contains(idB))
    st.releaseAll()
    assert(!persistentIds(spark).contains(idA) &&
      !persistentIds(spark).contains(idB))
  }

  test("releaseAll frees every frame past a failing release; staging keeps the body's exception") {
    def multiLeaf(): DataFrame = Checkpoints.stage(spark.range(0, 100).toDF("id"))
      .join(Checkpoints.stage(spark.range(0, 100).toDF("id")), "id")
    val st = new Checkpoints.Staging
    st.track(multiLeaf())
    val a = st.stage(spark.range(0, 1000).toDF("id"))
    st.track(multiLeaf())
    val b = st.stage(spark.range(0, 1000).toDF("id").withColumn("x", col("id")))
    val e = intercept[IllegalArgumentException] { st.releaseAll() }
    assert(e.getMessage.contains("LogicalRDD leaves"))
    assert(e.getSuppressed.toSeq.map(_.getClass) ===
      Seq(classOf[IllegalArgumentException]),
      "the second failing release rides the first as suppressed")
    val ids = (leafRddIds(a) ++ leafRddIds(b)).toSet
    assert((persistentIds(spark) intersect ids).isEmpty,
      "frames tracked after a failing release must still be released")

    // a failing body: its exception propagates, the release failure rides
    // it as suppressed, and every releasable frame is freed
    var c: DataFrame = null
    val boom = intercept[RuntimeException] {
      Checkpoints.staging { st2 =>
        st2.track(multiLeaf())
        c = st2.stage(spark.range(0, 1000).toDF("id"))
        throw new RuntimeException("boom")
      }
    }
    assert(boom.getMessage === "boom")
    assert(boom.getSuppressed.toSeq.map(_.getClass) ===
      Seq(classOf[IllegalArgumentException]))
    assert(!persistentIds(spark).contains(leafRddIds(c).head))
    // a clean body returns its value and releases what it tracked
    var d: DataFrame = null
    assert(Checkpoints.staging { st3 =>
      d = st3.stage(spark.range(0, 10).toDF("id"))
      d.count()
    } === 10L)
    assert(!persistentIds(spark).contains(leafRddIds(d).head))
  }

  test("reliable flag routes stage to recoverable checkpoint files; release no-ops there") {
    val s2 = spark.newSession()
    s2.sparkContext.setCheckpointDir(tmpPath("reliable_ckpt"))
    s2.conf.set(Checkpoints.ReliableConf, "true")
    val df = Checkpoints.stage(s2.range(0, 1000).toDF("id"))
    val leaves = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
    }
    assert(leaves.size === 1)
    assert(leaves.head.isCheckpointed,
      "reliable route must checkpoint the staged RDD")
    assert(leaves.head.getCheckpointFile.isDefined,
      "reliable checkpoints are FILE-backed (recomputable on executor loss)")
    Checkpoints.release(df)
    // file-backed: survives release — the durable-by-design trade
    assert(df.count() === 1000L)
  }

  test("reliable route: ANN op and grouped ladder match the local-checkpoint results") {
    val s2 = spark.newSession()
    s2.sparkContext.setCheckpointDir(tmpPath("reliable_ckpt2"))
    s2.conf.set(Checkpoints.ReliableConf, "true")
    // embeddings with a planted near-dup pair and a far singleton
    def vecs(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(
        (1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(0.998f, 0.06f, 0f, 0f)),
        (3L, Array(0f, 1f, 0f, 0f)),
        (4L, Array(0f, 0f, 1f, 0f)),
        (5L, Array(0f, 0.04f, 0.999f, 0f)),
        (6L, Array(0f, 0f, 0f, 1f))).toDF("id", "vec")
    }
    def annPairs(s: SparkSession): Seq[(Long, Long)] =
      graft.operators.Ann.cosineNearDupPairs(vecs(s), "id", "vec",
        threshold = 0.95, bitsPerTable = 2, numTables = 8, dim = 4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val reliable = annPairs(s2)
    val local = annPairs(spark)
    assert(reliable === local && reliable.nonEmpty,
      s"ANN pairs must be route-invariant: $reliable vs $local")
    // grouped ladder (deterministic — bit-identical across routes)
    def ladder(s: SparkSession): Seq[String] =
      graft.exec.AdaptiveExecutor.runGroupedDeterministic(
        s.range(0, 40000).select(
          col("id").as("k"),
          pmod(col("id"), lit(8L)).cast("string").as("grp"),
          (pmod(col("id"), lit(97L)) + lit(1)).cast("double").as("v")),
        value = col("v"), key = col("k"), group = col("grp"),
        exactBelow = 1L)
        .collect().map(_.toString).toSeq.sorted
    val ladderReliable = ladder(s2)
    val ladderLocal = ladder(spark)
    assert(ladderReliable === ladderLocal && ladderReliable.size === 8,
      "ladder output must be bit-identical across checkpoint routes")
  }

  test("reliable route: streaming curateBatch folds identically to the local route") {
    // the third heavy stage() user besides ANN and the ladder — the one
    // a real cluster deployment runs for hours, where executor loss is
    // WHEN, not if
    val s2 = spark.newSession()
    s2.sparkContext.setCheckpointDir(tmpPath("reliable_ckpt3"))
    s2.conf.set(Checkpoints.ReliableConf, "true")
    def fold(s: SparkSession, tag: String): Set[(Long, String)] = {
      import s.implicits._
      val store = tmpPath(s"reliable_cur_store_$tag")
      val out = tmpPath(s"reliable_cur_out_$tag")
      val b0 = Seq(
        (1L, "the quick brown fox jumps over the lazy dog today", "web"),
        (2L, "exact duplicate content appearing in both batches here", "web"))
        .toDF("doc_id", "text", "source")
      val b1 = Seq(
        (11L, "a fresh unique document about catalyst optimizer rules", "web"),
        (12L, "exact duplicate content appearing in both batches here", "web"))
        .toDF("doc_id", "text", "source")
      val cfg = graft.streaming.StreamingCuration.Config()
      graft.streaming.StreamingCuration.curateBatch(b0, store, None,
        "doc_id", "text", cfg, batchId = 0L, outPath = Some(out))
      graft.streaming.StreamingCuration.curateBatch(b1, store, None,
        "doc_id", "text", cfg, batchId = 1L, outPath = Some(out))
      s.read.parquet(out).select(col("doc_id"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val reliable = fold(s2, "rel")
    val local = fold(spark, "loc")
    assert(reliable === local && reliable.map(_._1) === Set(1L, 2L, 11L),
      "two-batch curation fold must be route-invariant (doc 12 deduped " +
        "against batch 0's persisted fingerprints on both routes)")
  }
}
