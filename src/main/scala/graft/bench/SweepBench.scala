package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.AqeSession
import graft.model.{AggKind, SamplingStrategy}

/** Sample-rate sweep benchmark — the Spark twin of the reference's
  * `benchmark_query` harness (utils.py:58-117: rates [1,5,10,20,50]%,
  * 3 runs each, error % + speedup vs exact; CSV out per utils.py:245-263).
  *
  * Usage: runMain graft.bench.SweepBench [sfDir] [outCsv]
  */
object SweepBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outCsv = args.lift(1).getOrElse("/tmp/graft_sweep.csv")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-sweep")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val li = Tables.lineitem(spark, sfDir)
    val key = graft.Tables.lineitemKey.column
    val t = AqeSession(spark).table(li, key)
    val exact = li.agg(sum("l_extendedprice")).head().getDouble(0)

    val rows = new scala.collection.mutable.ArrayBuffer[String]
    rows += "agg,design,sample_pct,run,estimate,error_pct,millis,speedup_vs_exact"

    def timeMs(f: => Double): (Double, Long) = {
      val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1000000L)
    }
    // exact baseline (3 runs, median)
    val exactTimes = (1 to 3).map(_ => timeMs {
      li.agg(sum("l_extendedprice")).head().getDouble(0)
    }._2).sorted
    val exactMs = exactTimes(1)

    for (pct <- Seq(1, 5, 10, 20, 50); run <- 1 to 3) {
      val designs = Seq(
        "systematic" -> SamplingStrategy.Systematic(100L / pct),
        "uniform" -> SamplingStrategy.Uniform(pct / 100.0, seed = 42L + run))
      for ((name, strat) <- designs) {
        val (est, ms) = timeMs {
          t.approxSum(col("l_extendedprice"), strat).head().getDouble(0)
        }
        val err = 100.0 * math.abs(est - exact) / math.abs(exact)
        val speedup = if (ms > 0) exactMs.toDouble / ms else -1
        rows += f"sum,$name,$pct,$run,$est%.2f,$err%.4f,$ms,$speedup%.3f"
      }
    }
    // universe-join sweep: error/speedup of sampling THROUGH the join at
    // each key-band width, vs the exact joined SUM (broadcast left on —
    // this sweep shows the end-user plan, the x_unijoin probe isolates
    // the shuffle effect)
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"))
    def joinSum(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame, scale: Double): Double =
      l.join(r, col("l_orderkey") === col("o_orderkey"))
        .agg((sum(col("l_extendedprice")) * lit(scale)).as("s"))
        .head().getDouble(0)
    val exactJoin = joinSum(li, ord, 1.0)
    val exactJoinMs = (1 to 3).map(_ => timeMs(joinSum(li, ord, 1.0))._2)
      .sorted.apply(1)
    for (pct <- Seq(1, 5, 10, 20, 50); run <- 1 to 3) {
      val us = graft.operators.JoinSampling.universeSample(
        li, col("l_orderkey"), ord, col("o_orderkey"),
        from = 0L, until = pct * 10L)
      val (est, ms) = timeMs(joinSum(us.left, us.right, us.scaleFactor))
      val err = 100.0 * math.abs(est - exactJoin) / math.abs(exactJoin)
      val speedup = if (ms > 0) exactJoinMs.toDouble / ms else -1
      rows += f"join_sum,universe,$pct,$run,$est%.2f,$err%.4f,$ms,$speedup%.3f"
    }
    // priority-sampling sweep: fixed-size weighted k = pct% of N
    val nLi = li.count()
    for (pct <- Seq(1, 5, 10, 20, 50); run <- 1 to 3) {
      val k = math.max(1L, nLi * pct / 100).min(1000000L).toInt
      val (est, ms) = timeMs {
        graft.exec.Sampling.prioritySumEstimate(
          graft.exec.Sampling.prioritySample(li, key,
            col("l_extendedprice"), k), k).head().getDouble(0)
      }
      val err = 100.0 * math.abs(est - exact) / math.abs(exact)
      val speedup = if (ms > 0) exactMs.toDouble / ms else -1
      rows += f"sum,priority,$pct,$run,$est%.2f,$err%.4f,$ms,$speedup%.3f"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outCsv),
      rows.mkString("\n") + "\n")
    println(s"wrote ${rows.size - 1} sweep rows to $outCsv (exact=$exact in ${exactMs}ms)")
    spark.stop()
  }
}
