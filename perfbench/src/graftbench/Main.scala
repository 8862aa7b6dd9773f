package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Per-run context the workloads share: the session, the tracer, the
  * record being filled, and the timed-loop helpers. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: Record,
    val seed: Long, val seconds: Double, val work: String) {

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Benchmark-side input generation: timed apart, never part of set-up. */
  def timeGen[T](f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    rec.genS += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Program set-up, repeated `k` times so `setup_s` can take a median. */
  def setupReps(k: Int)(f: => Unit): Unit =
    (0 until k).foreach(_ => rec.setupReps += timed(f))

  /** First-use cost before the first timed op (part of `setup_s`). */
  def warmup(f: => Any): Unit = rec.warmupS += timed(f)

  /** Closed loop, one client: whole rounds of `body` back to back. The
    * number of rounds is fixed by `seconds` — seconds / `roundSeconds`
    * (the round's nominal length on a 4-core machine), at least one — so
    * every run of a workload does the same work in the same mix, however
    * fast the machine is. */
  def loop(roundSeconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val rounds = math.max(1L, math.round(seconds / roundSeconds))
    (1L to rounds).foreach(_ => body)
    rec.timedWallS += (System.nanoTime() - t0) / 1e9
  }

  /** Mark a completed op as failed by a check made after the loop. */
  def failOp(id: Int, msg: String): Unit = {
    val o = rec.ops(id)
    rec.ops(id) = o.copy(ok = false, error = if (o.error.isEmpty) msg.take(500) else o.error)
  }
}

object Util {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Every regular file under `path` with its size. */
  def files(path: String): Map[String, Long] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.toString -> Files.size(f)).toMap
      finally walk.close()
    }
  }
}

object Main {
  val Workloads = Seq("aqp_mixed", "curate_stream", "ann_index")

  /** The session every workload runs in: the CLI's conf (graft.cli.Main)
    * with `local[N]` and N shuffle partitions, N = the cores available. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    if (opts.get("digest").contains("1")) {
      println(Gen.digest(workload, seed, session(1, opts("work"))))
      return
    }
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val rec = new Record(workload, seed, cores)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    rec.sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, rec, seed, seconds, work)
    try {
      workload match {
        case "aqp_mixed" => AqpWorkload.run(ctx)
        case "curate_stream" => CurateWorkloads.runStream(ctx)
        case "ann_index" => AnnWorkload.run(ctx)
      }
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(rec.toMap(tracer.spanRecords()) +
          ("tracer_s" -> tracer.overheadSeconds) +
          ("conf" -> spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.") || k == "spark.master" }))
      Files.write(Paths.get(out), json)
    } finally spark.stop()
  }
}
