package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, AsofJoin, Dedup, HeavyHitters, Mixing, Multimodal, RangeJoin, Rolling, Skew, TextAnalysis}

/** Training-data pipeline queries (dedup / similarity / text analysis) over
  * the `documents` and `embeddings` fixtures, plus multi-table join and
  * events queries — the north-star surface beyond the reference (SURVEY §7
  * M7). Oracle notes:
  *
  *  - Integer outputs (counts, token sums) are exact in any engine.
  *  - Jaccard = |∩|/|∪| of small ints — one exact double division.
  *  - Cosine/dot products are LEFT FOLDS in both engines
  *    (`aggregate(zip_with(...), 0.0, +)` ≡ `list_reduce(list_prepend(0.0,
  *    [a[i]*b[i] ...]), +)`) so even float math is bit-identical.
  *  - LSH-based queries (MinHash bands, hyperplane buckets) are *verified
  *    against exact similarity*, so when recall = 1 on the fixture their
  *    output equals the exact all-pairs oracle — the oracle states the exact
  *    semantics, the Spark plan is the scalable path.
  */
object InventoryPipeline {
  import graft.OracleSnippets._
  import graft.Tables._

  /** DuckDB left-fold dot product mirroring VectorOps.dot (defined before
    * every val that interpolates it — object vals initialize in declaration
    * order). */
  private def dDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, len($a) + 1)]), (acc, v) -> acc + v)"

  /** cosine(a.embedding, b.embedding) with when(denom>0) guard mirrored. */
  private def dCosAB: String = {
    val dotAB = dDot("a.embedding", "b.embedding")
    s"(CASE WHEN a.nrm * b.nrm > 0 THEN $dotAB / (a.nrm * b.nrm) ELSE 0.0 END)"
  }

  // DuckDB mirror of TextAnalysis token/punct/stopword counts.
  private val dTokens = "string_split_regex(text, ' +')"
  private val dStop =
    s"len(list_filter($dTokens, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))"
  private val dPunct = """length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))"""

  /** Full segment-dedup rollup replay (window form) — the oracle for BOTH
    * q147 (one-shot) and q150 (incremental ≡ one-shot equivalence gate). */
  private val segDedupOracleSql =
    """WITH t AS (SELECT doc_id, source, string_split_regex(text, ' +') AS w FROM documents), e AS (SELECT doc_id, source, w, unnest(range((len(w) + 7) // 8)) AS i FROM t), segs AS (SELECT doc_id, source, i AS seg_idx, array_to_string(list_slice(w, 8 * i + 1, 8 * i + 8), ' ') AS segment FROM e), k AS (SELECT doc_id, source, seg_idx, segment, ROW_NUMBER() OVER (PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn FROM segs), d AS (SELECT doc_id, source, COUNT(*) AS n_segments, SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept, COALESCE(string_agg(CASE WHEN rn = 1 THEN segment END, ' ' ORDER BY seg_idx), '') AS txt FROM k GROUP BY 1, 2) SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_segments) AS BIGINT) AS segs_total, CAST(SUM(n_kept) AS BIGINT) AS segs_kept, CAST(SUM(length(txt)) AS BIGINT) AS chars_after FROM d GROUP BY 1 ORDER BY 1"""

  private val joinAndEvents: Seq[QueryDef] = Seq(
    // -- multi-table joins (absent in reference, SURVEY §2.5 — the Spark
    //    build gets them for free; dims broadcast, fact side streams) -------
    QueryDef("q20_join_revenue_by_nation",
      (s, d) => {
        val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        lineitem(s, d)
          .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(graft.functions.MoneyDec.roundDec(rev, 18, 4)).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .transform(graft.QueryOps.orderedSmall(_, col("n_name")))
      },
      Some("""SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, COUNT(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"""),
      headline = true),

    QueryDef("q89_unshipped_orders",
      // TPC-H Q3 shape: top-10 highest-revenue orders taken before the
      // cutoff but not yet shipped by it. Plan: segment filter prunes
      // customer BEFORE its broadcast; orders date filter is scan-stage;
      // the revenue agg shuffles on l_orderkey with map-side combine; the
      // top-10 runs as TakeOrderedAndProject (per-partition heaps — only
      // 10 rows per partition ever move). Ties broken by l_orderkey so the
      // LIMIT set is deterministic in any engine.
      (s, d) => {
        val cutoff = "1998-06-01"
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        lineitem(s, d).filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
          .join(orders(s, d).filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
              .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d)
              .filter(col("c_mktsegment") === "BUILDING")
              .select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(graft.functions.MoneyDec.roundDec(rev, 18, 4)).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    QueryDef("q90_local_supplier_volume",
      // TPC-H Q5 shape: revenue by nation where supplier and customer
      // share the nation, one region, one order-year. All four dims
      // broadcast; the only shuffles are the fact-side lineitem⋈orders
      // equi-join (AQE's call at scale) and the final 5-row nation agg.
      // The c_nationkey = s_nationkey correlation is a post-join filter —
      // Catalyst pushes it into the join condition.
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        lineitem(s, d)
          .join(orders(s, d)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"),
              col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")
              .select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(graft.functions.MoneyDec.roundDec(rev, 18, 4)).cast("double").as("revenue"))
          .transform(graft.QueryOps.orderedSmall(_, col("n_name")))
      },
      Some("""SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY n_name ORDER BY n_name"""),
      headline = true),

    QueryDef("q91_dormant_customers",
      // TPC-H Q22 flavor — the anti-join shape: customers with NO order
      // above the threshold, rolled up by segment. The probe side shrinks
      // to the filtered big-order key set (scan-stage pushdown), so AQE
      // broadcasts it and the anti-join never shuffles the customer side;
      // at 100 TB the same plan holds because the filter, not the table,
      // sizes the build side.
      (s, d) => {
        val big = orders(s, d).filter(col("o_totalprice") > 350000.0)
          .select(col("o_custkey"))
        customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(graft.functions.MoneyDec.dec(col("c_acctbal"), 18, 2)).cast("double")
              .as("sum_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0) GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef("q21_approx_join_sum_sys10",
      // sampled fact side scaled x10; dims joined AFTER sampling (join on a
      // 10x smaller stream), broadcast by size
      (s, d) => {
        val li = lineitem(s, d)
          .filter(pmod(lineitemKey.column,
            lit(10L)) === lit(0L))
        li.join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg((sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)).cast("double") * lit(10.0))
            .as("sum_price_est"))
          .orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 10.0 AS sum_price_est FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE ${lineitemKey.sql} % 10 = 0 GROUP BY n_name ORDER BY n_name""")),

    // -- events: time-window aggregation (batch twin of the streaming path) -
    QueryDef("q22_events_hourly",
      (s, d) => graft.QueryOps.orderedSmall(events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.MoneyDec.roundDec(col("value"), 18, 2)).cast("double").as("sum_value")),
        col("hour"), col("event_type")),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
      headline = true),

    QueryDef("q40_events_hourly_approx_sys5",
      // batch twin of StreamingAgg.windowedApproxAgg: deterministic
      // event_id-mod sampling + scaled per-window estimates
      (s, d) => events(s, d)
        .filter(pmod(col("event_id"), lit(5L)) === 0L)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg((sum(graft.functions.MoneyDec.roundDec(col("value"), 18, 2)).cast("double") * lit(5.0))
          .as("sum_value_est"),
          (count(lit(1)) * lit(5L)).as("n_est"))
        .orderBy(col("hour")),
      Some("""SELECT date_trunc('hour', ts) AS hour, CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) * 5.0 AS sum_value_est, COUNT(*) * 5 AS n_est FROM events WHERE event_id % 5 = 0 GROUP BY 1 ORDER BY 1""")),

    QueryDef("q47_events_hourly_distinct_users",
      // skew-safe EXACT distinct per window: every exchange keyed on at
      // least (hour, value-hash shard), so a hot hour's user set spreads
      // over 8 tasks — same answer as plain COUNT(DISTINCT), better tails.
      // Streaming twin: StreamingAgg.windowedApproxDistinct (HLL).
      (s, d) => Skew.saltedCountDistinct(
          events(s, d).withColumn("hour", date_trunc("hour", col("ts"))),
          Seq("hour"), "user_id", salts = 8, alias = "n_users")
        .orderBy(col("hour")),
      Some("""SELECT date_trunc('hour', ts) AS hour, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1 ORDER BY 1""")),

    QueryDef("q23_events_top_users",
      (s, d) => events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(graft.functions.MoneyDec.roundDec(col("value"), 18, 2)).cast("double").as("total_value"),
          count(lit(1)).as("n_events"))
        .orderBy(col("total_value").desc, col("user_id"))
        .limit(10),
      Some("""SELECT user_id, CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS total_value, COUNT(*) AS n_events FROM events GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""")),

    QueryDef("q50_heavy_hitters",
      // exact frequent users via Misra-Gries candidates + scoped exact
      // count — same answer as groupBy+HAVING but the full-cardinality
      // shuffle never happens (candidates ∝ partitions × 1/support)
      (s, d) => HeavyHitters.heavyHitters(events(s, d), "user_id",
        support = 0.008, countAlias = "n_events")
        .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1 HAVING COUNT(*) >= CAST(CEIL(0.008 * (SELECT COUNT(*) FROM events)) AS BIGINT) ORDER BY 1""")),

    QueryDef("q56_bloom_semi_join",
      // exact semi-join with Bloom pre-pruning: the build side's key set
      // (urgent orders) is sketched into a broadcast bloom probed by the
      // codegen'd might_contain BEFORE any shuffle of the fact — survivors
      // (matches + <=1% FP) then exact-semi-join; answer identical to a
      // plain semi-join, shuffle volume ∝ selectivity instead of |fact|
      (s, d) => {
        import graft.operators.BloomJoin
        val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        BloomJoin.bloomPrunedSemiJoin(lineitem(s, d), urgent,
            "l_orderkey", "o_orderkey", expectedItems = 200000L, numBits = 2000000L)
          .groupBy(col("l_returnflag")).agg(
            count(lit(1)).as("n_items"),
            sum(graft.functions.MoneyDec.dec(col("l_quantity"), 18, 2)).cast("double").as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_items, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') GROUP BY 1 ORDER BY 1""")),

    QueryDef("q58_compact_latest",
      // CDC/snapshot compaction: keep each user's latest event (event-time
      // desc, event_id desc tiebreak) — one keyed window shuffle, the
      // standard "current state of every key" pass before training-data
      // extraction from an event log
      (s, d) => {
        import graft.operators.Packing
        Packing.latestPerKey(
            events(s, d).select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type")),
            keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, ts_us, event_type FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 ORDER BY user_id""")),

    QueryDef("q51_asof_join",
      // backward as-of join: each purchase matched to the user's latest
      // click at or before it. Both engines compare at MICROsecond
      // granularity (Spark's ts is ns-truncated to us; DuckDB epoch_us
      // floors the same way) so the match set is identical.
      (s, d) => {
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        AsofJoin.backward(purchases, clicks, key = "user_id",
          leftOrder = "ts", rightOrder = "ts",
          rightCols = Seq("event_id", "ts"), rightTieBreak = "event_id",
          prefix = "click_")
          .select(col("event_id"), col("user_id"),
            col("click_event_id"),
            unix_micros(col("click_ts")).as("click_ts_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH cl AS (SELECT user_id, epoch_us(ts) AS cts, event_id FROM events WHERE event_type = 'click'), pu AS (SELECT event_id, user_id, epoch_us(ts) AS pts FROM events WHERE event_type = 'purchase') SELECT p.event_id, p.user_id, (SELECT c.event_id FROM cl c WHERE c.user_id = p.user_id AND c.cts <= p.pts ORDER BY c.cts DESC, c.event_id DESC LIMIT 1) AS click_event_id, (SELECT c.cts FROM cl c WHERE c.user_id = p.user_id AND c.cts <= p.pts ORDER BY c.cts DESC, c.event_id DESC LIMIT 1) AS click_ts_us FROM pu p ORDER BY 1""")),

    QueryDef("q53_band_join_pairs",
      // band self-join: same-user event pairs within 1 hour, via bin
      // bucketing — a plain |Δt|<=h self-join predicate would nested-loop
      // every per-user pair; the (key, bin) equi-join never does
      (s, d) => {
        val e = events(s, d).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"))
        RangeJoin.bandJoin(e, e, key = "user_id",
          leftOrd = "tus", rightOrd = "tus", band = 3600000000L)
          .filter(col("l_event_id") < col("r_event_id"))
          .select(col("l_user_id").as("user_id"),
            col("l_event_id").as("id_a"), col("r_event_id").as("id_b"),
            (col("r_tus") - col("l_tus")).as("dt_us"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events) SELECT a.user_id AS user_id, a.event_id AS id_a, b.event_id AS id_b, b.t - a.t AS dt_us FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id AND abs(a.t - b.t) <= 3600000000 ORDER BY 2, 3"""))
  )

  private val textQueries: Seq[QueryDef] = Seq(
    QueryDef("q30_doc_stats_by_source",
      (s, d) => {
        val t = col("text")
        documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(t).cast("long")).as("sum_tokens"),
            sum(TextAnalysis.stopwordCount(t).cast("long")).as("sum_stopwords"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("source"))
      },
      // SUM(BIGINT) is HUGEINT in DuckDB -> cast back to BIGINT to match
      // Spark's long
      Some(s"""SELECT source, COUNT(*) AS n_docs, CAST(SUM(len($dTokens)) AS BIGINT) AS sum_tokens, CAST(SUM($dStop) AS BIGINT) AS sum_stopwords, CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY source ORDER BY source""")),

    QueryDef("q31_doc_quality",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, len($dTokens) AS n_tokens, (LEAST(1.0, CAST(len($dTokens) AS DOUBLE) / 20.0) + LEAST(1.0, 5.0 * CAST($dStop AS DOUBLE) / GREATEST(CAST(len($dTokens) AS DOUBLE), 1.0)) + (1.0 - LEAST(1.0, 4.0 * CAST($dPunct AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0)))) / 3.0 AS quality FROM documents ORDER BY doc_id"""),
      headline = true),

    QueryDef("q149_quality_budget_select",
      // token-budget corpus selection (Mixing.selectByQualityBudget): take
      // the best-quality docs until 30% of the corpus tokens are spent —
      // histogram-threshold selection, no global sort (the window touches
      // only the marginal id-range of the marginal quality bucket). The
      // budget is data-derived in exact integer arithmetic on both sides;
      // DuckDB replays the selection as one global running-sum window over
      // (bucket DESC, doc_id) — the small-data semantic spec of the same
      // rule.
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        val budget = docs.agg(sum(col("n"))).head.getLong(0) * 3 / 10
        graft.operators.Mixing.selectByQualityBudget(docs, "doc_id",
            col("q"), col("n"), budget)
          .groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n")).as("sum_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, CAST(len($dTokens) AS BIGINT) AS n, (LEAST(1.0, CAST(len($dTokens) AS DOUBLE) / 20.0) + LEAST(1.0, 5.0 * CAST($dStop AS DOUBLE) / GREATEST(CAST(len($dTokens) AS DOUBLE), 1.0)) + (1.0 - LEAST(1.0, 4.0 * CAST($dPunct AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0)))) / 3.0 AS q FROM documents), b AS (SELECT *, LEAST(CAST(FLOOR(LEAST(GREATEST(q, 0.0), 1.0) * 1000) AS INT), 999) AS qb FROM t), bud AS (SELECT SUM(n) * 3 // 10 AS budget FROM t), c AS (SELECT *, SUM(n) OVER (ORDER BY qb DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b) SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens FROM c, bud WHERE cum <= budget GROUP BY source ORDER BY source""")),

    QueryDef("q32_doc_fingerprint",
      (s, d) => documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint FROM documents ORDER BY doc_id""")),

    QueryDef("q33_langid_counts",
      (s, d) => documents(s, d)
        .groupBy(TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      Some {
        val toks = "string_split_regex(lower(text), ' +')"
        def hits(ws: Seq[String]) =
          s"CAST(len(list_filter($toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)"
        val sEn = hits(Seq("the", "and", "of", "to", "is", "with", "that"))
        val sEs = hits(Seq("el", "la", "los", "las", "que", "de", "y", "una"))
        val sDe = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein"))
        val sFr = hits(Seq("le", "les", "des", "est", "et", "une", "dans"))
        val sZh = """CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS DOUBLE) * 3.0"""
        // strictly-greater reduceLeft over (en, es, de, fr, zh)
        s"""WITH sc AS (SELECT $sEn AS s_en, $sEs AS s_es, $sDe AS s_de, $sFr AS s_fr, $sZh AS s_zh FROM documents),
           | pick AS (SELECT CASE
           |   WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) <= 0 THEN 'und'
           |   WHEN s_zh > s_fr AND s_zh > s_de AND s_zh > s_es AND s_zh > s_en THEN 'zh'
           |   WHEN s_fr > s_de AND s_fr > s_es AND s_fr > s_en THEN 'fr'
           |   WHEN s_de > s_es AND s_de > s_en THEN 'de'
           |   WHEN s_es > s_en THEN 'es'
           |   ELSE 'en' END AS lang_pred FROM sc)
           |SELECT lang_pred, COUNT(*) AS n FROM pick GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")
      })
  )

  private val dedupQueries: Seq[QueryDef] = Seq(
    QueryDef("q34_dedup_exact_stats",
      (s, d) => documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique_normalized")),
      Some("""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique, COUNT(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), '')]), (acc, x) -> (acc * 31 + x) % 1000000007)) AS n_unique_normalized FROM documents""")),

    QueryDef("q147_segment_dedup",
      // CCNet/RefinedWeb-style segment-level dedup (Dedup.segmentDedup):
      // 8-word segments, corpus-wide first occurrence survives, docs
      // reassembled; rolled up per source in exact integers. The oracle
      // replays the identical first-occurrence policy with a window.
      (s, d) => Dedup.segmentDedup(documents(s, d), "doc_id", "text",
          segmentWords = 8, keep = Seq("source"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_segments")).as("segs_total"),
          sum(col("n_kept")).as("segs_kept"),
          sum(length(col("text_deduped")).cast("long")).as("chars_after"))
        .orderBy(col("source")),
      Some(segDedupOracleSql)),

    QueryDef("q150_segment_dedup_incremental",
      // the corpus-refresh shape: the fixture split at the median id into
      // two "crawl drops", batch 1 deduped against an empty index, batch 2
      // against batch 1's updated index (bloom-staged probe). Folding
      // batches MUST equal the one-shot dedup over the union — the oracle
      // is literally q147's full-dedup replay, so the hash match proves
      // the incremental algebra, not just plausibility.
      (s, d) => {
        val docs = documents(s, d)
        val mid = docs.agg((max(col("doc_id")) / 2).cast("long"))
          .head.getLong(0)
        val emptyIdx = docs.select(col("text").as("segment")).limit(0)
        val (out1, idx1) = Dedup.segmentDedupIncremental(
          docs.filter(col("doc_id") <= mid), emptyIdx,
          "doc_id", "text", segmentWords = 8, keep = Seq("source"))
        val (out2, _) = Dedup.segmentDedupIncremental(
          docs.filter(col("doc_id") > mid), idx1,
          "doc_id", "text", segmentWords = 8, keep = Seq("source"),
          bloomExpectedItems = 1L << 16)
        out1.unionAll(out2)
          .groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_segments")).as("segs_total"),
            sum(col("n_kept")).as("segs_kept"),
            sum(length(col("text_deduped")).cast("long")).as("chars_after"))
          .orderBy(col("source"))
      },
      Some(segDedupOracleSql)),

    // MinHash+LSH near-dup, verified by exact Jaccard: equals the exact
    // all-pairs answer whenever LSH recall = 1 (16 bands x 4 rows at
    // j >= 0.8 -> miss probability < 1e-6; see Dedup.scaladoc).
    // The oracle is shared-shingle BLOCKED, not all-pairs (round-8
    // verdict item 7): any pair with J >= t > 0 shares a shingle, so the
    // gram join loses nothing, and inter/(na+nb-inter) is the same two
    // exact integers the list_intersect form divided — bit-identical
    // (measured: 25/25 identical rows at sf0.01, 83x faster; tri-scale
    // no longer needs to skip this oracle).
    QueryDef("q35_minhash_neardup_pairs",
      (s, d) => Dedup.nearDupPairs(documents(s, d), "doc_id", "text",
        threshold = 0.8, shingleN = 3, numHashes = 64, bands = 16)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $blockedJaccardCtes SELECT id_a, id_b, $blockedJaccardExpr AS jaccard FROM pr WHERE $blockedJaccardExpr >= 0.8 ORDER BY id_a, id_b"""),
      headline = true),

    QueryDef("q45_dup_clusters",
      // transitive dup groups: MinHash near-dup pairs → connected components
      // (min-label propagation); DuckDB mirrors with a recursive CTE over
      // the same exact-Jaccard pair semantics (shared-shingle blocked, q35)
      (s, d) => {
        val pairs = Dedup.nearDupPairs(documents(s, d), "doc_id", "text",
          threshold = 0.8, shingleN = 3, numHashes = 64, bands = 16)
        Dedup.dupClusters(pairs).withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $blockedJaccardCtes, pairs AS MATERIALIZED (SELECT id_a, id_b FROM pr WHERE $blockedJaccardExpr >= 0.8), edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), reach(id, r) AS (SELECT src, src FROM edges UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id) SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY doc_id""")),

    // exact n-gram Jaccard join (prefix filtering): guaranteed recall at
    // ANY threshold — run at 0.7 where LSH's 16x4 banding would start
    // missing pairs; the oracle is the same exact-pair semantics,
    // shared-shingle blocked (q35)
    QueryDef("q49_ngram_jaccard_pairs",
      (s, d) => Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text",
        threshold = 0.7, shingleN = 3)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $blockedJaccardCtes SELECT id_a, id_b, $blockedJaccardExpr AS jaccard FROM pr WHERE $blockedJaccardExpr >= 0.7 ORDER BY id_a, id_b""")),

    QueryDef("q36_simhash_neardup_pairs",
      // SimHash, ORACLE-GATED on its recall against the exact Jaccard-0.8
      // pair set (the q49 prefix-filter machinery computes it in-engine;
      // DuckDB recomputes the same exact pair count): the sketch pairs are
      // engine-specific (xxhash64), but "finds ≥ 50% of true 0.8-pairs at
      // Hamming ≤ 3" is a claim the oracle can state (measured 0.60–0.75
      // across sf0.001/0.01/0.1; DedupSpec anchors the sketch itself).
      (s, d) => {
        val docs = documents(s, d)
        val sim = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
          maxHamming = 3).select(col("id_a"), col("id_b"))
        val exactRaw = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          threshold = 0.8, shingleN = 3)
        val exact = exactRaw.select(col("id_a"), col("id_b"))
        val nTrue = exact.count()
        val nFound = exact.join(sim, Seq("id_a", "id_b"), "left_semi").count()
        // exactRaw is an eager localCheckpoint — auto-freed, nothing to release
        s.range(1).select(
          lit(nTrue).as("n_true_pairs"),
          lit(nFound.toDouble >= 0.5 * nTrue.toDouble).as("recall_ge_050"))
      },
      Some(s"""WITH $blockedJaccardCtes SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ge_050 FROM pr WHERE $blockedJaccardExpr >= 0.8""")),

    QueryDef("q37_embedding_neardup_pairs",
      (s, d) => Ann.allPairsCosine(embeddings(s, d), "vec_id", "embedding", 0.4)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH n AS (SELECT vec_id, embedding, SQRT(${dDot("embedding", "embedding")}) AS nrm FROM embeddings) SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${dCosAB} AS cosine FROM n a JOIN n b ON a.vec_id < b.vec_id WHERE ${dCosAB} >= 0.4 ORDER BY id_a, id_b""")),

    QueryDef("q54_repetition_signals",
      // Gopher-style repetitious-text filter signals rolled up per source:
      // all-integer outputs so the cross-engine compare is exact; a doc is
      // "repetitive" when its top bigram covers >20% of bigram occurrences
      // (top_occ * 5 > n_bigrams in integer arithmetic)
      (s, d) => TextAnalysis.repetitionSignals(documents(s, d), "doc_id", "text",
          keep = Seq("source"))
        .groupBy(col("source")).agg(
          sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_docs"),
          sum(when(col("n") === 2, col("top_occ")).otherwise(0L)).as("top_bigram_occ"),
          sum(when(col("n") === 2, col("n_grams")).otherwise(0L)).as("n_bigrams"),
          sum(when(col("n") === 3, col("dup_occ")).otherwise(0L)).as("dup_trigram_occ"),
          sum(when(col("n") === 3, col("n_grams")).otherwise(0L)).as("n_trigrams"),
          sum(when(col("n") === 2 && col("top_occ") * 5 > col("n_grams"), 1L)
            .otherwise(0L)).as("n_repetitive"))
        .orderBy(col("source")),
      Some("""WITH t AS (SELECT doc_id, source, string_split_regex(text, ' +') AS w FROM documents), g AS (SELECT doc_id, source, 2 AS n, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram FROM t UNION ALL SELECT doc_id, source, 3 AS n, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS gram FROM t), c AS (SELECT doc_id, source, n, gram, COUNT(*) AS occ FROM g GROUP BY 1, 2, 3, 4), d AS (SELECT doc_id, source, n, MAX(occ) AS top_occ, SUM(occ) AS n_grams, COALESCE(SUM(CASE WHEN occ > 1 THEN occ END), 0) AS dup_occ FROM c GROUP BY 1, 2, 3) SELECT source, CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs, CAST(SUM(CASE WHEN n = 2 THEN top_occ ELSE 0 END) AS BIGINT) AS top_bigram_occ, CAST(SUM(CASE WHEN n = 2 THEN n_grams ELSE 0 END) AS BIGINT) AS n_bigrams, CAST(SUM(CASE WHEN n = 3 THEN dup_occ ELSE 0 END) AS BIGINT) AS dup_trigram_occ, CAST(SUM(CASE WHEN n = 3 THEN n_grams ELSE 0 END) AS BIGINT) AS n_trigrams, CAST(SUM(CASE WHEN n = 2 AND top_occ * 5 > n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive FROM d GROUP BY source ORDER BY source""")),

    QueryDef("q55_pii_scan",
      // PII scan/redaction over a contact blob reconstructed
      // deterministically from customer keys (the slim fixture drops
      // TPC-H's c_phone, so both engines derive the same one): every row
      // gets a CC-XXX-XXX-XXXX phone, every 10th an email, every 7th an
      // IPv4. Patterns live in the RE2 ∩ java.regex common subset so both
      // engines match identically; outputs are all-integer.
      (s, d) => {
        val ck = col("c_custkey")
        val phone = concat_ws("-",
          (lit(10) + col("c_nationkey")).cast("string"),
          lpad(pmod(ck * 7919L, lit(1000L)).cast("string"), 3, "0"),
          lpad(pmod(ck * 104729L, lit(1000L)).cast("string"), 3, "0"),
          lpad(pmod(ck * 1299709L, lit(10000L)).cast("string"), 4, "0"))
        val blob = concat(col("c_name"), lit(" ph: "), phone,
          when(pmod(ck, lit(10L)) === 0,
            concat(lit(" mail: u"), ck.cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(ck, lit(7L)) === 0,
            concat(lit(" ip 10.0."), pmod(ck, lit(256L)).cast("string"), lit(".1")))
            .otherwise(lit("")))
        customer(s, d)
          .select(col("c_mktsegment"),
            TextAnalysis.piiCount(blob, TextAnalysis.emailPattern).as("ne"),
            TextAnalysis.piiCount(blob, TextAnalysis.phonePattern).as("np"),
            TextAnalysis.piiCount(blob, TextAnalysis.ipv4Pattern).as("ni"),
            length(TextAnalysis.redactPii(blob)).as("rlen"))
          .groupBy(col("c_mktsegment")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("ne")).as("n_emails"),
            sum(col("np")).as("n_phones"),
            sum(col("ni")).as("n_ips"),
            sum(col("rlen").cast("long")).as("redacted_chars"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH b AS (SELECT c_mktsegment, c_name || ' ph: ' || CAST(10 + c_nationkey AS VARCHAR) || '-' || lpad(CAST((c_custkey * 7919) % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST((c_custkey * 104729) % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST((c_custkey * 1299709) % 10000 AS VARCHAR), 4, '0') || CASE WHEN c_custkey % 10 = 0 THEN ' mail: u' || CAST(c_custkey AS VARCHAR) || '@example.com' ELSE '' END || CASE WHEN c_custkey % 7 = 0 THEN ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.1' ELSE '' END AS blob FROM customer), c AS (SELECT c_mktsegment, len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@([A-Za-z0-9.-]+\.[A-Za-z]{2,}|[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3})')) AS ne, len(regexp_extract_all(blob, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS np, len(regexp_extract_all(blob, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS ni, length(regexp_replace(regexp_replace(regexp_replace(blob, '[A-Za-z0-9._%+-]+@([A-Za-z0-9.-]+\.[A-Za-z]{2,}|[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3})', '<EMAIL>', 'g'), '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS rlen FROM b) SELECT c_mktsegment, COUNT(*) AS n_rows, CAST(SUM(ne) AS BIGINT) AS n_emails, CAST(SUM(np) AS BIGINT) AS n_phones, CAST(SUM(ni) AS BIGINT) AS n_ips, CAST(SUM(rlen) AS BIGINT) AS redacted_chars FROM c GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef("q57_sequence_pack",
      // token-budget sequence packing: docs fill 512-token packs in doc_id
      // order within each source shard (contiguous fill with overflow);
      // per-pack doc and token counts — parallelism = number of shards,
      // the cumulative sum never crosses shard boundaries
      (s, d) => {
        import graft.operators.Packing
        val docs = documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        Packing.packSequences(docs, "doc_id", "n_tokens", "source", budget = 512L)
          .groupBy(col("source"), col("pack")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"))
          .orderBy(col("source"), col("pack"))
      },
      Some("""WITH t AS (SELECT doc_id, source, CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n FROM documents), c AS (SELECT doc_id, source, n, COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM t) SELECT source, CAST((bef - (bef % 512)) / 512 AS BIGINT) AS pack, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS pack_tokens FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
      headline = true)
  )

  private val annQueries: Seq[QueryDef] = Seq(
    QueryDef("q38_ann_bruteforce_top5",
      // fast mapPartitions kernel — bit-identical to the expression form
      // (PipelineSpec asserts it) so the DuckDB oracle is unchanged
      (s, d) => {
        val emb = embeddings(s, d)
        Ann.bruteForceTopKFast(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding, SQRT(${dDot("embedding", "embedding")}) AS nrm FROM embeddings), scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${dCosAB.replace("a.vec_id < b.vec_id", "")} AS cosine FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) SELECT query_id, neighbor_id, cosine FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored) WHERE rnk <= 5 ORDER BY query_id, cosine DESC, neighbor_id"""),
      headline = true),

    QueryDef("q39_ann_lsh_top5",
      // sign-LSH top-5, ORACLE-GATED on recall vs the exact brute-force
      // top-5 (itself hash-gated as q38): the bucketed result is
      // hyperplane-seed-specific, but "≥ 80% of true top-5 neighbors
      // found" is oracle-stateable (measured 0.98–1.00 across the three
      // scales; AnnSpec asserts the tuned 0.9 floor at sf0.01).
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
        val lsh = Ann.lshTopK(emb, probes, "vec_id", "embedding",
          k = 5, bitsPerTable = 6, numTables = 16, probeRadius = 1)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val nTrue = bf.count()
        val nFound = bf.join(lsh.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nFound.toDouble >= 0.8 * nTrue.toDouble).as("recall_ge_080"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS recall_ge_080 FROM embeddings WHERE vec_id < 10")),

    QueryDef("q46_ann_ivf_top5",
      // IVF top-5, ORACLE-GATED like q39 (floor 0.75: on the *uniform
      // random* fixture inverted lists are near-equidistant, so measured
      // recall 0.88–0.96 is the honest number — on clustered data
      // PipelineSpec's planted fixture holds ≥ 0.8 by design)
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
        val ivf = Ann.ivfTopK(emb, probes, "vec_id", "embedding",
          k = 5, numCentroids = 32, nProbe = 8)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val nTrue = bf.count()
        val nFound = bf.join(ivf.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nFound.toDouble >= 0.75 * nTrue.toDouble).as("recall_ge_075"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS recall_ge_075 FROM embeddings WHERE vec_id < 10")),

    QueryDef("q86_semdedup_survivors",
      // SemDeDup, ORACLE-GATED on its DROP-SAFETY invariant: every dropped
      // embedding must have a true cosine-≥-threshold neighbor (verified
      // in-engine against the exact all-pairs set, q37's machinery — the
      // sketch may MISS cross-cluster pairs by design, it may never drop a
      // doc without a real neighbor). The oracle states the corpus size,
      // safety, and that the op actually dropped something; PipelineSpec
      // anchors pair recall ≥ 0.8 on planted twins.
      (s, d) => {
        val emb = embeddings(s, d)
        val survivors = Ann.semDedup(emb, "vec_id", "embedding",
          threshold = 0.4, numCentroids = 32).select(col("vec_id"))
        val dropped = emb.select(col("vec_id")).except(survivors)
        val exact = Ann.allPairsCosine(emb, "vec_id", "embedding", 0.4)
        val inPair = exact.select(col("id_a").as("vec_id"))
          .union(exact.select(col("id_b").as("vec_id"))).distinct()
        val nDocs = emb.count()
        val nDropped = dropped.count()
        val nUnsafe = dropped.join(inPair, Seq("vec_id"), "left_anti").count()
        s.range(1).select(
          lit(nDocs).as("n_docs"),
          lit(nUnsafe == 0L).as("all_drops_safe"),
          lit(nDropped > 0L).as("dropped_nonzero"))
      },
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS all_drops_safe, TRUE AS dropped_nonzero FROM embeddings"))
  )

  private val multimodalQueries: Seq[QueryDef] = Seq(
    QueryDef("q44_multimodal_stats",
      // drives the REAL multimodal path end-to-end: binary media table →
      // mapPartitions feature extraction (real pooled decode for
      // image/audio/video bytes; this fixture's UTF-8 payloads exercise
      // the stub FALLBACK leg — the model-inference seam) → per-kind
      // rollup. kind and byte counts are pure functions of the documents
      // fixture, so DuckDB can oracle the metadata contract; the real
      // and fallback feature VALUES are pinned in MultimodalSpec.
      (s, d) => {
        val media = Multimodal.syntheticMedia(documents(s, d))
        Multimodal.extractFeatures(media).toDF()
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("n_bytes").cast("long")).as("sum_bytes"))
          .orderBy(col("kind"))
      },
      Some("""SELECT CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, COUNT(*) AS n_items, CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes FROM documents GROUP BY 1 ORDER BY 1"""))
  )

  private val mixAndFeatureQueries: Seq[QueryDef] = Seq(
    QueryDef("q59_corpus_mix",
      // corpus mixing: per-source keep rates (1/step via the affine hash) +
      // Horvitz-Thompson reweighted char totals — integer arithmetic
      // throughout, pure scan-stage filter
      (s, d) => {
        val mixed = Mixing.corpusMix(documents(s, d), "doc_id", "source",
          Map("src0" -> 1L, "src1" -> 2L, "src2" -> 4L, "src3" -> 2L),
          defaultStep = 5L)
        mixed.groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars") * col("mix_step")).as("est_chars"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (SELECT source, n_chars, CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 WHEN 'src2' THEN 4 WHEN 'src3' THEN 2 ELSE 5 END AS mix_step, ${Mixing.hashPrioritySql("doc_id")} AS h FROM documents) SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars * mix_step) AS BIGINT) AS est_chars FROM w WHERE h % mix_step = 0 GROUP BY 1 ORDER BY 1""")),

    QueryDef("q60_rolling_features",
      // trailing-window featurization: previous-3-events count/sum AND
      // previous-hour count/sum per user — both frames share one keyed
      // shuffle+sort (same partition/order spec). Cents via floor(value*100)
      // keep cross-engine sums in exact integer arithmetic.
      (s, d) => {
        val ev = events(s, d)
          .filter(pmod(col("user_id"), lit(10L)) === 7)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            floor(col("value") * lit(100)).cast("long").as("cents"))
        val rows3 = Rolling.trailingRows(ev, Seq("user_id"),
          Seq("ts_us", "event_id"), col("cents"), k = 3)
        Rolling.trailingRange(rows3, Seq("user_id"), "ts_us",
            col("cents"), lookback = 3600L * 1000000L)
          .select("user_id", "event_id", "prev_n", "prev_sum", "win_n", "win_sum")
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, prev_n, CAST(prev_sum AS BIGINT) AS prev_sum, win_n, CAST(win_sum AS BIGINT) AS win_sum FROM (SELECT user_id, event_id, COUNT(cents) OVER wr AS prev_n, COALESCE(SUM(cents) OVER wr, 0) AS prev_sum, COUNT(cents) OVER wt AS win_n, COALESCE(SUM(cents) OVER wt, 0) AS win_sum FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, CAST(floor(value * 100) AS BIGINT) AS cents FROM events WHERE user_id % 10 = 7) WINDOW wr AS (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), wt AS (PARTITION BY user_id ORDER BY ts_us RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)) ORDER BY user_id, event_id""")),

    QueryDef("q93_resample_ffill",
      // gap-filling resample: irregular per-user events onto an hourly
      // grid, last-observation-carried-forward. Values are PICKED, never
      // summed, so raw doubles cross engines exactly; the in-bucket winner
      // is ranked by the composite epoch·10⁸+event_id (deterministic).
      (s, d) => Rolling.resampleFill(
          events(s, d).filter(col("user_id") < 20),
          "user_id", "ts", col("value"), "event_id", stepSec = 3600L)
        .orderBy(col("user_id"), col("bucket")),
      Some("""WITH obs AS (SELECT user_id, CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS es, value, event_id FROM events WHERE user_id < 20), b AS (SELECT user_id, es - es % 3600 AS bucket, arg_max(value, es * 100000000 + event_id) AS v FROM obs GROUP BY 1, 2), bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1), spine AS (SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket FROM bounds), j AS (SELECT s.user_id, s.bucket, b.v FROM spine s LEFT JOIN b USING (user_id, bucket)) SELECT user_id, bucket, last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled FROM j ORDER BY user_id, bucket""")),

    QueryDef("q94_resample_interp",
      // linear-interpolation resample (q93's smooth sibling): grid points
      // between observations take the lerp in the documented fixed IEEE
      // operation order; edges hold the nearest observation
      (s, d) => Rolling.resampleInterp(
          events(s, d).filter(col("user_id") < 20),
          "user_id", "ts", col("value"), "event_id", stepSec = 3600L)
        .orderBy(col("user_id"), col("bucket")),
      Some("""WITH obs AS (SELECT user_id, CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS es, value, event_id FROM events WHERE user_id < 20), b AS (SELECT user_id, es - es % 3600 AS bucket, arg_max(value, es * 100000000 + event_id) AS v FROM obs GROUP BY 1, 2), bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1), spine AS (SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket FROM bounds), j AS (SELECT s.user_id, s.bucket, b.v FROM spine s LEFT JOIN b USING (user_id, bucket)), k AS (SELECT user_id, bucket, v, last_value(v IGNORE NULLS) OVER w0 AS v0, last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w0 AS t0, first_value(v IGNORE NULLS) OVER w1 AS v1, first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w1 AS t1 FROM j WINDOW w0 AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), w1 AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) SELECT user_id, bucket, CASE WHEN v IS NOT NULL THEN v WHEN t1 IS NULL THEN v0 WHEN t0 IS NULL THEN v1 ELSE v0 + (v1 - v0) * (CAST(bucket - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)) END AS interp FROM k ORDER BY user_id, bucket""")),

    QueryDef("q61_top_terms",
      // TF vocabulary inspection: top-5 terms per source; the shuffle after
      // the explode carries one row per distinct (source, term) — partial
      // aggregation absorbs the occurrence fan-out map-side
      (s, d) => graft.QueryOps.orderedSmall(
        TextAnalysis.topTerms(documents(s, d), "source", "text", k = 5),
        col("source"), col("rank")),
      Some("""WITH tok AS (SELECT source, unnest(string_split_regex(lower(text), ' +')) AS term FROM documents), c AS (SELECT source, term, COUNT(*) AS occ FROM tok WHERE length(term) > 0 GROUP BY 1, 2) SELECT source, term, occ, ROW_NUMBER() OVER (PARTITION BY source ORDER BY occ DESC, term) AS rank FROM c QUALIFY rank <= 5 ORDER BY source, rank"""),
      headline = true),

    QueryDef("q63_doc_chunks",
      // sliding-window chunking (64-token windows, stride 48) with the
      // rolling-hash fingerprint of every chunk — the fp oracle-proves the
      // reassembled chunk TEXT matches, not just the counts
      (s, d) => {
        val chunks = TextAnalysis.chunkDocs(documents(s, d), "doc_id", "text",
          chunkTokens = 64, strideTokens = 48, keep = Seq("source"))
        chunks.filter(col("source") === "src0")
          .select(col("doc_id"), col("chunk"), col("chunk_tokens"),
            TextAnalysis.fingerprint(col("chunk_text")).as("chunk_fp"))
          .orderBy(col("doc_id"), col("chunk"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents WHERE source = 'src0'), s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS strt FROM t), c AS (SELECT doc_id, strt // 48 AS chunk, list_slice(toks, strt + 1, strt + 64) AS ctoks FROM s) SELECT doc_id, chunk, len(ctoks) AS chunk_tokens, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(ch) AS BIGINT) for ch in string_split(lower(regexp_replace(trim(array_to_string(ctoks, ' ')), '\s+', ' ', 'g')), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_fp FROM c ORDER BY doc_id, chunk"""),
      headline = true),

    QueryDef("q62_exact_n_sample",
      // exact-n-per-stratum pseudo-random sample (deterministic reservoir
      // twin): smallest-hash-priority rows, replayable by any engine
      (s, d) => Mixing.exactNPerGroup(documents(s, d), "doc_id", "source", n = 3)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("doc_id")),
      Some(s"""SELECT source, doc_id, n_chars FROM (SELECT source, doc_id, n_chars, ROW_NUMBER() OVER (PARTITION BY source ORDER BY ${Mixing.hashPrioritySql("doc_id")}, doc_id) AS rn FROM documents) WHERE rn <= 3 ORDER BY source, doc_id"""))
  )

  val all: Seq[QueryDef] = joinAndEvents ++ textQueries ++ dedupQueries ++
    annQueries ++ multimodalQueries ++ mixAndFeatureQueries
}
