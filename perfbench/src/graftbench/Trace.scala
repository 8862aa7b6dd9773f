package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Shim

/** One timed operation of the closed loop: its class, its wall clock, the
  * CPU time spent on it and whether it completed and passed its checks. */
final case class OpRec(id: Int, kind: String, cls: String, t0Ns: Long,
    t1Ns: Long, cpuNs: Long, ok: Boolean, error: String) {
  def seconds: Double = (t1Ns - t0Ns) / 1e9
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "cls" -> cls,
    "s" -> seconds, "cpu_s" -> cpuNs / 1e9, "ok" -> ok, "error" -> error)
}

object OpRec {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time so far of every Java thread but the JIT compilers: the
    * driver, Spark's task, scheduler and exchange threads. JIT and GC
    * threads are left out, and so is the time the hypervisor steals, so
    * an op's delta tracks the work done for it rather than how far the JIT
    * has got or how busy the host is. */
  def threadCpuNs(): Map[Long, Long] = {
    val infos = mx.getThreadInfo(mx.getAllThreadIds).filter(i =>
      i != null && !i.getThreadName.contains("CompilerThread"))
    val ids = infos.map(_.getThreadId)
    ids.zip(mx.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time the threads spent since `before`; a thread started since
    * counts from zero, one that ended since counts nothing. */
  def cpuSinceNs(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
}

/** Everything a run measured, written once at the end as raw JSON; the
  * Python side reduces it to metrics. */
final class Record(val workload: String, val seed: Long, val cores: Int) {
  var genS = 0.0
  var sessionS = 0.0
  val setupReps = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  var timedWallS = 0.0
  /** Work items the timed loop completed (queries, docs, probes). */
  var items = 0.0
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Workload-specific raw values (sample lists or single numbers). */
  val values = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer values measured directly rather than from spans. */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  def toMap(spans: Seq[Map[String, Any]]): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "cores" -> cores,
    "gen_s" -> genS, "session_s" -> sessionS, "setup_reps_s" -> setupReps.toSeq,
    "warmup_s" -> warmupS, "timed_wall_s" -> timedWallS, "items" -> items,
    "ops" -> ops.map(_.toMap).toSeq,
    "checks" -> checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
    "values" -> values, "layer" -> layer, "spans" -> spans)
}

/** Spans the benchmark opens around its calls into graft, with the Spark
  * and JVM counters its own listener attributes to them.
  *
  * Attribution is exact, not by timing: while a span is open its id rides
  * the driver thread's Spark local properties, so every job carries it;
  * tasks map to spans through their stage's job, and an SQL execution's
  * planning time through the executions its jobs belong to. Only jobs of
  * open spans are counted. The tracer times its own work (span
  * bookkeeping on the driver thread, listener callbacks on the bus
  * thread): that is the tracing overhead a traced run reports. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private final class Span(val id: Int, val parent: Int, val op: Int,
      val name: String, val t0Ns: Long, val gc0Ms: Long) {
    var t1Ns = 0L
    var gc1Ms = 0L
  }
  private final class Counters {
    var jobs = 0L; var tasks = 0L; var execRunMs = 0L
    var shuffleWriteB = 0L; var spillB = 0L; var inputB = 0L
    var planningMs = 0L
    var storeScanB = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  // written by the listener-bus thread, read after a drain
  private val counters = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()

  private def ctr(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val spanNs = new java.util.concurrent.atomic.AtomicLong()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()
  private def charged[T](to: java.util.concurrent.atomic.AtomicLong)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally to.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged(listenerNs) {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(SpanProp))).foreach { s =>
        val span = s.toInt
        jobSpan.put(e.jobId, (span, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, span))
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charged(listenerNs) {
      Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
        val c = ctr(span)
        c.synchronized { c.jobs += 1; c.jobIntervals += ((t0, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged(listenerNs) {
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val c = ctr(span)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.execRunMs += m.executorRunTime
            c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            c.spillB += m.diskBytesSpilled
            c.inputB += m.inputMetrics.bytesRead
          }
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = charged(listenerNs)(e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(execSpan.remove(end.executionId)).foreach { span =>
          Shim.queryExecution(end).foreach { qe =>
            val ms = qe.tracker.phases.values.map(_.durationMs).sum
            val scanned = storeRoot.map(scanBytesUnder(qe.executedPlan, _)).getOrElse(0L)
            val c = ctr(span)
            c.synchronized { c.planningMs += ms; c.storeScanB += scanned }
          }
        }
      case _ =>
    })
  }
  if (enabled) sc.addSparkListener(listener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private var opId = -1

  /** Directory whose files count as store reads (`store_scan_mb`): the
    * bytes of the files that file-source scans under it select. */
  @volatile var storeRoot: Option[String] = None

  /** Run `f` inside a span named `name` (a no-op when tracing is off or
    * no op is open). */
  def span[T](name: String)(f: => T): T =
    if (!enabled || opId == -1) f
    else {
      val s = charged(spanNs) {
        val parent = if (stack.isEmpty) -1 else stack.top.id
        val s = new Span(spans.size, parent, opId, name, System.nanoTime(), gcMs())
        spans += s
        stack.push(s)
        sc.setLocalProperty(SpanProp, s.id.toString)
        s
      }
      try f
      finally charged(spanNs) {
        s.t1Ns = System.nanoTime()
        s.gc1Ms = gcMs()
        stack.pop()
        sc.setLocalProperty(SpanProp,
          if (stack.isEmpty) null else stack.top.id.toString)
      }
    }

  /** Traced runs only: a root span outside the timed loop, for
    * attribution work that is not one of the loop's operations. */
  def extra[T](name: String)(f: => T): T = {
    opId = ExtraOp
    try span(name)(f) finally opId = -1
  }

  /** Run one closed-loop operation, inside a root span when tracing.
    * Returns the op record (ok = completed and every check passed). */
  def op(rec: Record, kind: String, cls: String)(f: => Boolean): OpRec = {
    val id = rec.ops.size
    opId = id
    val cpu0 = OpRec.threadCpuNs()
    val t0 = System.nanoTime()
    val (ok, err) =
      try (span(s"op.$kind")(f), "")
      catch {
        case NonFatal(e) =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally opId = -1
    val t1 = System.nanoTime()
    val r = OpRec(id, kind, cls, t0, t1, OpRec.cpuSinceNs(cpu0), ok, err)
    rec.ops += r
    r
  }

  /** Seconds the tracer spent on its own work (read after [[spanRecords]]). */
  def overheadSeconds: Double = (spanNs.get + listenerNs.get) / 1e9

  /** Span records with their attributed counters; drains the listener
    * bus first so every event of the run is counted. */
  def spanRecords(): Seq[Map[String, Any]] = {
    if (!enabled) return Nil
    Shim.drainListenerBus(sc)
    def rel(ms: Long): Double = (ms - epochMs0) / 1e3
    spans.toSeq.map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> (s.t0Ns - nano0) / 1e9, "end" -> (s.t1Ns - nano0) / 1e9,
        "gc_s" -> (s.gc1Ms - s.gc0Ms) / 1e3,
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "executor_run_s" -> c.execRunMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteB / 1e6,
        "spill_mb" -> c.spillB / 1e6, "input_mb" -> c.inputB / 1e6,
        "planning_ms" -> c.planningMs.toDouble,
        "store_scan_mb" -> c.storeScanB / 1e6,
        "job_intervals" -> c.jobIntervals.toSeq.map { case (a, b) =>
          Seq(rel(a), rel(b)) })
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanProp = "graftbench.span"

  /** Bytes of the files that the file-source scans of `plan` (adaptive
    * stages and subqueries included) select under directory `root`. */
  def scanBytesUnder(plan: SparkPlan, root: String): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanLike
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)) =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
  /** Op id of spans opened by [[Tracer.extra]]. */
  val ExtraOp = -2
}
