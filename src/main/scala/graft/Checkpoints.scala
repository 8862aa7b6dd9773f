package graft

import org.apache.spark.sql.DataFrame

/** Staging-frame lifecycle: eager materialization ([[stage]]) and
  * deterministic release ([[release]]) of internal checkpoints.
  *
  * `Dataset.unpersist` routes to the CacheManager, which only tracks
  * `persist()/cache()` entries — it silently NO-OPS on the storage blocks
  * a `localCheckpoint` materialized. Those blocks are otherwise freed only
  * when a driver GC lets the ContextCleaner observe the RDD as
  * unreachable, which on a large-heap driver can be arbitrarily late — a
  * long session stacks every retired staging frame in executor
  * memory-and-disk until then (measured in the round-12 bench forensics:
  * the pressure taxed every later operator). [[release]] frees the blocks
  * NOW by unpersisting the `LogicalRDD` leaves' underlying RDDs.
  */
object Checkpoints {

  /** Config key: `"true"` routes [[stage]] to a RELIABLE `checkpoint()`
    * (files under `sparkContext.setCheckpointDir`) instead of
    * `localCheckpoint(true)`. Default off. */
  val ReliableConf = "spark.graft.reliableCheckpoints"

  /** Eagerly materialize an internal staging frame, truncating lineage.
    *
    * Default: `localCheckpoint(true)` — executor-local blocks, the fast
    * path, correct in local mode and on clusters that tolerate job retry.
    * LOCAL checkpoints are NON-RECOMPUTABLE on executor loss (the lineage
    * is gone and the blocks lived only on the lost executor), so a
    * 100 TB multi-hour job that must survive executor churn should set
    * [[ReliableConf]]=true and `sparkContext.setCheckpointDir(...)`:
    * [[stage]] then routes to the reliable `checkpoint()`, whose files
    * any executor can re-read after a loss. The trade is one
    * write-to-storage per staging frame (staging frames here are
    * candidate/label/centroid-sized, not corpus-sized, so the write is
    * small relative to the scans around it).
    *
    * Under the reliable route [[release]] becomes a no-op (the frame is
    * file-backed, not block-backed); checkpoint FILES are cleaned by the
    * ContextCleaner only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, otherwise
    * they live until the checkpoint dir itself is cleaned — an explicit,
    * durable-by-design lifecycle. */
  def stage(df: DataFrame): DataFrame = {
    val reliable =
      df.sparkSession.conf.getOption(ReliableConf).exists(_.toBoolean)
    if (reliable) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires sparkContext.setCheckpointDir(...): " +
          "reliable checkpoints write recoverable files there")
      df.checkpoint()
    } else df.localCheckpoint(true)
  }

  /** [[stage]] as postfix syntax: `frame.staged`. */
  implicit final class StageOps(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }

  /** Free a LOCALLY-CHECKPOINTED frame's storage blocks NOW (see the
    * object doc for why `unpersist` cannot).
    *
    * CALLER CONTRACT (two parts):
    *  1. Every consumer of the frame — and of anything derived from it —
    *     must already be materialized. A released local checkpoint cannot
    *     be recomputed (checkpointing truncated its lineage), so a later
    *     read fails with a missing-block error: release is for frames
    *     that are provably dead, exactly like `free()`.
    *  2. The frame's plan must OWN its leaves: release unpersists EVERY
    *     `LogicalRDD` leaf of the analyzed plan, so passing a frame
    *     derived from SOMEONE ELSE'S checkpoint (a join of your staging
    *     frame with a still-live checkpointed sibling, or a frame built
    *     over `spark.createDataFrame(rdd)`) frees blocks that other
    *     frame still needs — and ITS next read fails far from the cause.
    *     Pass the staging frame itself (a single-leaf plan straight from
    *     [[stage]]/`localCheckpoint`), never a derivation.
    *
    * No-op on reliably-checkpointed frames (file-backed — see [[stage]])
    * and on plans with no `LogicalRDD` leaf.
    *
    * Contract part 2 is ENFORCED: a plan with more than one `LogicalRDD`
    * leaf (a join/union of checkpoints) fails HERE, at the call site,
    * instead of silently freeing a sibling's blocks and failing far away
    * on its next read. Every legitimate release target is the staging
    * frame itself — a single-leaf plan. */
  def release(df: DataFrame): Unit = {
    val rddLeaves = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }
    require(rddLeaves.size <= 1,
      s"Checkpoints.release: plan has ${rddLeaves.size} LogicalRDD leaves " +
        "— releasing a frame that combines multiple checkpoints would free " +
        "blocks a sibling frame still needs. Release each staged frame " +
        "itself, not a derivation that joins/unions checkpoints.")
    rddLeaves.foreach(_.rdd.unpersist(blocking = false): Unit)
  }

  /** Tracker for multi-stage operators: [[stage]] each internal frame
    * through it and release them all at the end — normally through
    * [[staging]], so an exception anywhere mid-pipeline (a failed
    * materialization, a failed commit write) still frees every staging
    * block created so far instead of leaking it back to ContextCleaner
    * timing. Frames the caller RETURNS must not ride the tracker. */
  final class Staging {
    private val frames =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** [[Checkpoints.stage]] + track for [[releaseAll]]. */
    def stage(df: DataFrame): DataFrame = {
      val out = Checkpoints.stage(df)
      frames += out
      out
    }

    /** Track an already-checkpointed frame for [[releaseAll]]. */
    def track(df: DataFrame): DataFrame = { frames += df; df }

    /** [[release]] EVERY tracked frame, then rethrow the first failure
      * (a multi-leaf frame's `require`, say) with any later ones attached
      * as suppressed — one bad frame never leaks the frames after it. */
    def releaseAll(): Unit = {
      var first: Throwable = null
      frames.foreach { df =>
        try release(df)
        catch {
          case scala.util.control.NonFatal(e) =>
            if (first == null) first = e else first.addSuppressed(e)
        }
      }
      frames.clear()
      if (first != null) throw first
    }
  }

  /** Run `body` with a fresh [[Staging]] tracker and release every frame
    * it tracked on the way out, success or failure. When `body` throws,
    * ITS exception propagates and a release failure rides it as
    * suppressed — a `finally { releaseAll() }` would replace the body's
    * exception with the release's. */
  def staging[T](body: Staging => T): T = {
    val st = new Staging
    val out =
      try body(st)
      catch {
        case t: Throwable =>
          try st.releaseAll()
          catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
          throw t
      }
    st.releaseAll()
    out
  }
}
