package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{ApproxPlanner, SpecExecutor}
import graft.parser.QueryParser

/** `aqp_mixed`: the paper's workload. A seeded closed-loop stream of
  * single-table aggregate queries over a 1 M-row lineitem goes through the
  * CLI path — QueryParser.parse → ApproxPlanner.plan → SpecExecutor.run →
  * collect. Exact answers are checked against a plain-Spark aggregate the
  * benchmark computes itself; sampled answers give the error and CI
  * coverage figures. */
object AqpWorkload {

  /** One query of the stream, with the CLI flags it carries. */
  final case class Query(cls: String, agg: Int, group: Option[String],
      where: Option[String], sample: Option[Double], error: Option[Double],
      ci: Boolean, method: Option[String], seed: Long) {
    def sql: String = s"SELECT ${Aggs(agg)} FROM lineitem" +
      where.fold("")(w => s" WHERE $w") + group.fold("")(g => s" GROUP BY $g")
  }

  val Aggs = Seq("SUM(l_extendedprice)", "AVG(l_quantity)", "COUNT(*)")
  val RF = Some("l_returnflag")
  val LS = Some("l_linestatus")
  /** WHERE kinds: none, a quantity range, a discount range. */
  val NoWhere = 0
  val Qty = 1
  val Disc = 2

  /** The mix: one deck of 12 query shapes (class, aggregate, GROUP BY,
    * WHERE kind), played in this order. The seed moves only where the
    * ranges sit, never their width, so every run does the same amount of
    * work. The single-pass classes (exact, file, uniform, ci) fill the
    * middle of the latency order, so the median falls inside them; the
    * grouped adaptive query is the slowest, the tail. */
  val Deck: Seq[(String, Int, Option[String], Int)] = Seq(
    ("exact", 0, None, Qty), ("exact", 1, RF, NoWhere),
    ("file", 0, None, NoWhere), ("file", 2, None, Qty),
    ("uniform", 2, LS, Disc), ("systematic", 0, None, Qty),
    ("block", 1, None, NoWhere), ("ci", 0, RF, Qty), ("ci", 1, None, Disc),
    ("adaptive", 0, None, Qty), ("adaptive", 2, None, Disc),
    ("adaptive_grouped", 0, RF, Qty))

  /** Nominal length of one deck on a 4-core machine (see [[Ctx.loop]]). */
  val RoundSeconds = 10.0

  /** A seeded WHERE of the given kind: 21 of the 50 quantities, or 5 of
    * the 11 discounts. */
  def where(seed: Long, n: Long, kind: Int): Option[String] = {
    val s = seed ^ 0x55L
    kind match {
      case Qty =>
        val lo = 1 + Gen.below(s, n, 1, 30)
        Some(s"l_quantity BETWEEN $lo AND ${lo + 20}")
      case Disc =>
        val lo = Gen.below(s, n, 2, 7)
        Some(f"l_discount BETWEEN ${lo / 100.0}%.2f AND ${(lo + 4) / 100.0}%.2f")
      case _ => None
    }
  }

  def query(seed: Long, n: Long, shape: (String, Int, Option[String], Int)): Query = {
    val (cls, agg, group, kind) = shape
    val w = where(seed, n, kind)
    val qs = Gen.h(seed ^ 0x66L, n, 5) & 0xffffL
    cls match {
      case "exact" => Query(cls, agg, group, w, None, None, false, None, qs)
      case "uniform" => Query(cls, agg, group, w, Some(10), None, false, None, qs)
      case "systematic" => Query(cls, agg, group, w, Some(10), None, false, Some("systematic"), qs)
      case "block" => Query(cls, agg, group, w, Some(10), None, false, Some("block"), qs)
      case "file" => Query(cls, agg, group, w, Some(10), None, false, Some("file"), qs)
      case "ci" => Query(cls, agg, group, w, Some(10), None, true, None, qs)
      case "adaptive" => Query(cls, agg, group, w, None, Some(2.0), false, None, qs)
      case "adaptive_grouped" => Query(cls, agg, group, w, None, Some(1.0), false, None, qs)
    }
  }

  /** Deck `d` of the run: every shape with its own seeded ranges and
    * sample seed. */
  def deck(seed: Long, d: Long): Seq[Query] =
    Deck.zipWithIndex.map { case (shape, j) => query(seed, d * Deck.size + j, shape) }

  /** One answer row: group key ("" when ungrouped), estimate, CI. */
  final case class Answer(key: String, value: Double, lo: Option[Double], hi: Option[Double])

  def runQuery(ctx: Ctx, q: Query): Seq[Answer] = {
    val t = ctx.tracer
    val spec0 = t.span("parser.parse") {
      QueryParser.parse(q.sql, samplePercent = q.sample,
        errorThresholdPct = q.error, withCi = q.ci)
    }
    val spec = t.span("exec.plan") {
      ApproxPlanner.plan(spec0, q.method, compat = false, seed = Some(q.seed))
    }
    val df = t.span("exec.build")(SpecExecutor.run(ctx.spark, spec))
    val rows = t.span("exec.collect")(df.collect())
    val names = df.schema.fieldNames
    val alias = names.find(n => !q.group.contains(n)).get
    def opt(r: Row, n: String): Option[Double] =
      if (names.contains(n) && !r.isNullAt(r.fieldIndex(n)))
        Some(r.getAs[Any](n).asInstanceOf[Number].doubleValue) else None
    rows.toSeq.map { r =>
      Answer(q.group.fold("")(g => String.valueOf(r.getAs[Any](g))),
        opt(r, alias).getOrElse(Double.NaN),
        opt(r, s"${alias}_ci_lower"), opt(r, s"${alias}_ci_upper"))
    }
  }

  def writeTable(spark: SparkSession, seed: Long, dir: String): Unit =
    Gen.lineitem(spark, seed).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  /** Exact answers by plain Spark: per predicate and (returnflag,
    * linestatus) cell, the money sum in decimal, the quantity sum and the
    * row count — every query's exact answer is a roll-up of these. */
  def truth(spark: SparkSession, dir: String, preds: IndexedSeq[Option[String]])
      : Map[(Int, String, String), (BigDecimal, Double, Long)] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val aggs = preds.indices.flatMap { p =>
      val on = preds(p).fold(lit(true))(expr)
      Seq(sum(when(on, col("l_extendedprice").cast("decimal(18,2)"))),
        sum(when(on, col("l_quantity"))), count(when(on, lit(1))))
    }
    li.groupBy("l_returnflag", "l_linestatus").agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        preds.indices.map { p =>
          val i = 2 + 3 * p
          (p, r.getString(0), r.getString(1)) ->
            ((if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))),
              (if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)), r.getLong(i + 2))
        }
      }.toMap
  }

  def exactAnswers(q: Query, pred: Int,
      t: Map[(Int, String, String), (BigDecimal, Double, Long)]): Map[String, Double] = {
    val cells = t.toSeq.filter(_._1._1 == pred)
    val keyed = cells.groupBy { case ((_, rf, ls), _) =>
      q.group match {
        case Some("l_returnflag") => rf
        case Some("l_linestatus") => ls
        case _ => ""
      }
    }
    keyed.collect { case (k, cs) if cs.map(_._2._3).sum > 0 =>
      val n = cs.map(_._2._3).sum
      k -> (q.agg match {
        case 0 => cs.map(_._2._1).sum.toDouble
        case 1 => cs.map(_._2._2).sum / n
        case _ => n.toDouble
      })
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val dir = s"${ctx.work}/aqp"
    ctx.timeGen(writeTable(spark, ctx.seed, dir))

    ctx.setupReps(3) {
      graft.Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    }
    // warm-up: a deck of its own before the timed ones
    ctx.warmup(deck(ctx.seed, -1).foreach(runQuery(ctx, _)))

    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, Query, Seq[Answer])]
    val decks = Iterator.iterate(0L)(_ + 1).map(deck(ctx.seed, _))
    ctx.loop(RoundSeconds)(decks.next().foreach { q =>
      var ans: Seq[Answer] = Nil
      val op = ctx.tracer.op(rec, "query", q.cls) {
        ans = runQuery(ctx, q)
        ans.nonEmpty && ans.forall(a => !a.value.isNaN)
      }
      results += ((op.id, q, ans))
      rec.items += 1
    })

    // exact answers and accuracy, outside the timed loop
    val preds = results.map(_._2.where).distinct.toIndexedSeq
    val t = truth(spark, dir, preds)
    val relErr = scala.collection.mutable.ArrayBuffer.empty[Double]
    val covered = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var exactBad = 0
    results.foreach { case (id, q, ans) =>
      val want = exactAnswers(q, preds.indexOf(q.where), t)
      val byKey = ans.map(a => a.key -> a).toMap
      val sameKeys = byKey.keySet == want.keySet
      if (q.cls == "exact") {
        val ok = sameKeys && want.forall { case (k, w) =>
          val g = byKey(k).value
          g == w || math.abs(g - w) <= 1e-9 * math.max(math.abs(g), math.abs(w))
        }
        if (!ok) {
          exactBad += 1
          ctx.failOp(id, s"exact answer mismatch: ${q.sql} got " +
            s"${ans.map(a => a.key -> a.value)} want $want")
        }
      } else if (!sameKeys) {
        ctx.failOp(id, s"group set mismatch: ${q.sql}: ${byKey.keySet} vs ${want.keySet}")
      } else want.foreach { case (k, w) =>
        val a = byKey(k)
        if (w != 0) relErr += math.abs(a.value - w) / math.abs(w)
        for (lo <- a.lo; hi <- a.hi) covered += (lo <= w && w <= hi)
      }
    }
    rec.check("exact_answers_match_plain_spark", exactBad == 0, s"$exactBad exact queries differ")
    rec.values("approx_rel_err") = relErr.toSeq
    rec.values("ci_covered") = covered.map(b => if (b) 1.0 else 0.0).toSeq
  }
}
