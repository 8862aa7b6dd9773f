package graft

import org.apache.spark.sql.functions._

import graft.exec.{HistQuantile, Sampling}
import graft.operators.{CorpusOverlap, JoinSampling, Mixing, QualityModel, Rolling, Skew}

/** Round-4 widening: the sampling designs and corpus diagnostics the
  * engine still lacked — sampling THROUGH a join (universe sampling),
  * fixed-size weighted sampling (priority sampling), model-based quality
  * filtering (the hashing-trick linear scorer), and corpus-to-corpus
  * overlap (exact + KMV sketch). Oracle discipline as everywhere else:
  * deterministic hash designs, exact decimal/integer accumulation,
  * fixed-order IEEE scalar math, full ORDER BY, identical aliases.
  */
object InventoryFrontier {
  import graft.Tables._

  val all: Seq[QueryDef] = Seq(

    QueryDef("q151_universe_join_sum",
      // revenue by order priority from a 10% UNIVERSE sample of the join
      // key space — both sides filtered to the same hash band of
      // o_orderkey/l_orderkey, so every sampled key keeps its complete
      // fan-out and the joined aggregate scales by exactly 10. The band
      // predicate is scan-stage on BOTH sides: both shuffle legs of the
      // join move 10% of their rows (an independent per-row design can
      // shrink only one side without bias), and at this rate AQE turns
      // the orders leg broadcast-size. Union of the 10 disjoint bands
      // replays the exact join — JoinSamplingSpec pins the identity.
      (s, d) => {
        val us = JoinSampling.universeSample(
          lineitem(s, d), col("l_orderkey"),
          orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          col("o_orderkey"))
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        us.left.join(us.right, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg((sum(graft.functions.MoneyDec.roundDec(rev, 18, 4)) * lit(10))
              .cast("double").as("est_revenue"),
            (count(lit(1)) * lit(10L)).as("est_pairs"))
          .orderBy(col("o_orderpriority"))
      },
      Some("SELECT o_orderpriority, CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) * 10 AS DOUBLE) AS est_revenue, COUNT(*) * 10 AS est_pairs FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE ((o_orderkey % 1000003) * 8191 + 131) % 1000 < 100 GROUP BY 1 ORDER BY 1")),

    QueryDef("q152_priority_sample_sum",
      // fixed-size weighted sample (k=500) + threshold estimator
      // (Duffield–Lund–Thorup): priorities w·M/h are scan-stage, the top
      // k+1 run as TakeOrderedAndProject (per-partition heaps — only 501
      // rows per partition ever move, no global sort), and the estimator
      // Σ max(w, τ) sums ≤ 500 doubles through decimal. Deterministic
      // hash → the DuckDB window replay selects the identical sample.
      (s, d) => {
        val top = Sampling.prioritySample(
          lineitem(s, d), lineitemKey.column, col("l_extendedprice"), k = 500)
        Sampling.prioritySumEstimate(top, k = 500)
      },
      Some(s"""WITH p AS (SELECT ${lineitemKey.sql} AS key, CAST(l_extendedprice AS DOUBLE) AS w FROM lineitem), q AS (SELECT key, w, w * 1000003.0 / (((key % 1000003) * 1299709 + 104729) % 1000003 + 1) AS prio FROM p), r AS (SELECT key, w, prio, ROW_NUMBER() OVER (ORDER BY prio DESC, key ASC) AS rn FROM q QUALIFY rn <= 501), tau AS (SELECT CASE WHEN COUNT(*) = 501 THEN MIN(prio) ELSE 0.0 END AS tau FROM r) SELECT CAST(SUM(CAST(ROUND(GREATEST(w, tau), 4) AS DECIMAL(28,4))) AS DOUBLE) AS sum_est, COUNT(*) AS n_used FROM r CROSS JOIN tau WHERE rn <= 500""")),

    QueryDef("q153_quality_model_filter",
      // model-based quality filtering (hashing-trick linear scorer —
      // the fasttext/DCLM curation stage, deterministic weight table):
      // the per-document margin is a higher-order fold over the token
      // array, pure scan-stage integer arithmetic — no explode, no UDF,
      // no shuffle before the per-source rollup.
      (s, d) => documents(s, d)
        .select(col("source"), QualityModel.marginCents(col("text")).as("mc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("mc") > 0, lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(col("mc")).as("margin_cents_total"),
          (sum(col("mc")).cast("double") /
            (count(lit(1)) * lit(100L)).cast("double")).as("avg_score"))
        .orderBy(col("source")),
      Some(s"""WITH m AS (SELECT source, ${QualityModel.marginCentsSql("text")} AS mc FROM documents) SELECT source, COUNT(*) AS n_docs, CAST(SUM(CASE WHEN mc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, CAST(SUM(mc) AS BIGINT) AS margin_cents_total, CAST(SUM(mc) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_score FROM m GROUP BY 1 ORDER BY 1""")),

    QueryDef("q154_corpus_overlap",
      // all-pairs corpus overlap: exact shingle-set Jaccard next to the
      // KMV-sketch estimate computed from 128 hashes per source. The
      // exact path is the one vocab-keyed distinct sweep + self-join
      // (the small-data anchor); the sketch path answers every pair from
      // S·k rows and is the 100 TB design. Both are deterministic fold
      // hashes, so BOTH values hash-match the DuckDB replay.
      (s, d) => CorpusOverlap.pairwiseOverlap(
        CorpusOverlap.shingleHashes(documents(s, d), "source", "text")),
      Some("""WITH t AS (SELECT source, string_split_regex(text, ' +') AS w FROM documents), e AS (SELECT source, w, unnest(range(0, greatest(len(w) - 2, 0))) AS i FROM t), sh AS (SELECT DISTINCT source, array_to_string(list_slice(w, i + 1, i + 3), ' ') AS s FROM e WHERE i + 3 <= len(w)), hs AS (SELECT DISTINCT source, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(s, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM sh), sz AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1), pairs AS (SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b FROM sz a JOIN sz b ON a.source < b.source), iv AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2), sk AS (SELECT source, h FROM (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs) WHERE rn <= 128), u AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (SELECT p.sa, p.sb, k.h, 1 AS ina, 0 AS inb FROM pairs p JOIN sk k ON k.source = p.sa UNION ALL SELECT p.sa, p.sb, k.h, 0 AS ina, 1 AS inb FROM pairs p JOIN sk k ON k.source = p.sb) GROUP BY 1, 2, 3), ur AS (SELECT sa, sb, ina, inb, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM u), est AS (SELECT sa, sb, CAST(SUM(ina * inb) AS DOUBLE) / CAST(LEAST(128, COUNT(*)) AS DOUBLE) AS jaccard_kmv FROM ur WHERE rn <= 128 GROUP BY 1, 2) SELECT p.sa, p.sb, p.n_a, p.n_b, COALESCE(iv.n_inter, 0) AS n_inter, CAST(COALESCE(iv.n_inter, 0) AS DOUBLE) / CAST(p.n_a + p.n_b - COALESCE(iv.n_inter, 0) AS DOUBLE) AS jaccard_exact, est.jaccard_kmv FROM pairs p LEFT JOIN iv ON iv.sa = p.sa AND iv.sb = p.sb JOIN est ON est.sa = p.sa AND est.sb = p.sb ORDER BY p.sa, p.sb""")),

    QueryDef("q155_ewma_anomaly",
      // hourly per-type volume vs its 8-hour exponential trend
      // (Rolling.ewmaFlags): one shuffle keyed on event_type, one
      // streaming window pass for all 8 lags. The 0.9^k weights are exact
      // decimals and the hourly totals exact cents, so the high/low/ok
      // verdicts are decimal inequalities — cross-engine exact; only the
      // reported trend does a final double division. The SQL twin mirrors
      // ewmaFlags' verdict ORDER, including the leading null-measure
      // 'no_data' branch (a NULL x would otherwise null both anomaly
      // comparisons and fall through to 'ok').
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(sum(graft.functions.MoneyDec.dec(col("value"), 18, 2)).as("x"))
        Rolling.ewmaFlags(hourly, Seq("event_type"), Seq("h"), col("x"))
          .select(col("event_type"), col("h"),
            col("x").cast("double").as("value_hour"),
            col("ewma_prev"), col("flag"))
          .orderBy(col("event_type"), col("h"))
      },
      Some("""WITH hr AS (SELECT event_type, date_trunc('hour', ts) AS h, SUM(CAST(value AS DECIMAL(18,2))) AS x FROM events GROUP BY 1, 2), l AS (SELECT event_type, h, x, LAG(x, 1) OVER w AS x1, LAG(x, 2) OVER w AS x2, LAG(x, 3) OVER w AS x3, LAG(x, 4) OVER w AS x4, LAG(x, 5) OVER w AS x5, LAG(x, 6) OVER w AS x6, LAG(x, 7) OVER w AS x7, LAG(x, 8) OVER w AS x8 FROM hr WINDOW w AS (PARTITION BY event_type ORDER BY h)), nd AS (SELECT event_type, h, x, (CASE WHEN x1 IS NULL THEN 0 ELSE 1.0 * x1 END + CASE WHEN x2 IS NULL THEN 0 ELSE 0.9 * x2 END + CASE WHEN x3 IS NULL THEN 0 ELSE 0.81 * x3 END + CASE WHEN x4 IS NULL THEN 0 ELSE 0.729 * x4 END + CASE WHEN x5 IS NULL THEN 0 ELSE 0.6561 * x5 END + CASE WHEN x6 IS NULL THEN 0 ELSE 0.59049 * x6 END + CASE WHEN x7 IS NULL THEN 0 ELSE 0.531441 * x7 END + CASE WHEN x8 IS NULL THEN 0 ELSE 0.4782969 * x8 END) AS num, (CASE WHEN x1 IS NULL THEN 0 ELSE 1.0 END + CASE WHEN x2 IS NULL THEN 0 ELSE 0.9 END + CASE WHEN x3 IS NULL THEN 0 ELSE 0.81 END + CASE WHEN x4 IS NULL THEN 0 ELSE 0.729 END + CASE WHEN x5 IS NULL THEN 0 ELSE 0.6561 END + CASE WHEN x6 IS NULL THEN 0 ELSE 0.59049 END + CASE WHEN x7 IS NULL THEN 0 ELSE 0.531441 END + CASE WHEN x8 IS NULL THEN 0 ELSE 0.4782969 END) AS den FROM l) SELECT event_type, h, CAST(x AS DOUBLE) AS value_hour, CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS ewma_prev, CASE WHEN x IS NULL THEN 'no_data' WHEN den = 0 THEN 'warmup' WHEN x * den > 2 * num THEN 'high' WHEN 2 * x * den < num THEN 'low' ELSE 'ok' END AS flag FROM nd ORDER BY event_type, h""")),

    QueryDef("q156_target_mix_rebalance",
      // static importance-reweighting to a target mixture under a row
      // budget (Mixing.stepsForTarget -> corpusMix): per-source steps are
      // closed-form integer arithmetic over the per-source counts, the
      // kept set is the deterministic hash filter — scan-stage, no
      // shuffle beyond the two rollups. src0/src1 weighted 5:1 over the
      // rest, 150-row budget.
      (s, d) => {
        val docs = documents(s, d)
        val targets = Map("src0" -> 5L, "src1" -> 5L)
        val steps = Mixing.stepsForTarget(docs, "source", targets,
          defaultTarget = 1L, budgetRows = 150L)
        val mixed = Mixing.corpusMix(docs, "doc_id", "source", steps)
        val kept = mixed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"))
        val stepDf = s.createDataFrame(
          steps.toSeq.map { case (g, st) => (g, st) }).toDF("source", "mix_step")
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
          .join(stepDf, Seq("source"))
          .join(kept, Seq("source"), "left")
          .select(col("source"), col("n_total"), col("mix_step"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1), t AS (SELECT source, n, CASE WHEN source IN ('src0', 'src1') THEN 5 ELSE 1 END AS tg FROM c), tt AS (SELECT CAST(SUM(tg) AS BIGINT) AS tot FROM t), st AS (SELECT source, n, GREATEST(1, (n * tt.tot) // (150 * tg)) AS mix_step FROM t CROSS JOIN tt), k AS (SELECT d.source, COUNT(*) AS n_kept FROM documents d JOIN st ON d.source = st.source WHERE ((d.doc_id * 1299709 + 104729) % 1000003) % st.mix_step = 0 GROUP BY 1) SELECT st.source, st.n AS n_total, CAST(st.mix_step AS BIGINT) AS mix_step, COALESCE(k.n_kept, 0) AS n_kept FROM st LEFT JOIN k ON k.source = st.source ORDER BY st.source""")),

    QueryDef("q158_universe_star_join",
      // universe sampling composed through a STAR: the 10% orderkey band
      // thins lineitem and orders (the two legs that would shuffle at
      // 100 TB); the N:1 dimension hops (customer, nation) stay unsampled
      // broadcasts — sampling upstream of an N:1 join is bias-free since
      // every surviving pair still finds its one dim row, and the ×10
      // applies only to fact-side measures. q20's plan shape, 10% of its
      // volume.
      (s, d) => {
        val us = JoinSampling.universeSample(
          lineitem(s, d), col("l_orderkey"),
          orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey"))
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        us.left.join(us.right, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg((sum(graft.functions.MoneyDec.roundDec(rev, 18, 4)) * lit(10))
              .cast("double").as("est_revenue"),
            (count(lit(1)) * lit(10L)).as("est_items"))
          .orderBy(col("n_name"))
      },
      Some("SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4))) * 10 AS DOUBLE) AS est_revenue, COUNT(*) * 10 AS est_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE ((o_orderkey % 1000003) * 8191 + 131) % 1000 < 100 GROUP BY 1 ORDER BY 1")),

    QueryDef("q160_kmv_user_overlap",
      // distinct-user overlap between every pair of event types — the
      // theta/KMV sketch SET-OPERATION surface (distinct intersection,
      // which HLL union alone cannot answer): the same coordinated
      // bottom-k machinery as corpus overlap, keyed on an injective
      // affine hash of user_id (gcd(8191, 1000003)=1 → collision-free
      // for ids < 1e6, so the "exact" legs are truly exact). Both the
      // exact Jaccard and the sketch estimate hash-match DuckDB.
      (s, d) => CorpusOverlap.pairwiseOverlap(
        events(s, d).select(col("event_type").as("source"),
          pmod(pmod(col("user_id"), lit(1000003L)) * lit(8191L) + lit(131L),
            lit(1000003L)).as("h")).distinct(), k = 128),
      Some("""WITH hs AS (SELECT DISTINCT event_type AS source, ((user_id % 1000003) * 8191 + 131) % 1000003 AS h FROM events), sz AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1), pairs AS (SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b FROM sz a JOIN sz b ON a.source < b.source), iv AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2), sk AS (SELECT source, h FROM (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs) WHERE rn <= 128), u AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (SELECT p.sa, p.sb, k.h, 1 AS ina, 0 AS inb FROM pairs p JOIN sk k ON k.source = p.sa UNION ALL SELECT p.sa, p.sb, k.h, 0 AS ina, 1 AS inb FROM pairs p JOIN sk k ON k.source = p.sb) GROUP BY 1, 2, 3), ur AS (SELECT sa, sb, ina, inb, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM u), est AS (SELECT sa, sb, CAST(SUM(ina * inb) AS DOUBLE) / CAST(LEAST(128, COUNT(*)) AS DOUBLE) AS jaccard_kmv FROM ur WHERE rn <= 128 GROUP BY 1, 2) SELECT p.sa, p.sb, p.n_a, p.n_b, COALESCE(iv.n_inter, 0) AS n_inter, CAST(COALESCE(iv.n_inter, 0) AS DOUBLE) / CAST(p.n_a + p.n_b - COALESCE(iv.n_inter, 0) AS DOUBLE) AS jaccard_exact, est.jaccard_kmv FROM pairs p LEFT JOIN iv ON iv.sa = p.sa AND iv.sb = p.sb JOIN est ON est.sa = p.sa AND est.sb = p.sb ORDER BY p.sa, p.sb""")),

    QueryDef("q161_universe_distinct",
      // approximate COUNT(DISTINCT user) per event type from a 20% USER
      // universe: distinct counts survive sampling ONLY when the distinct
      // key's universe is sampled (keep all rows of 1-in-5 users → ×5 is
      // unbiased for the distinct count; row-level Bernoulli keeps a
      // user with rate 1-(1-p)^freq and undercounts in a frequency-
      // dependent way no flat multiplier fixes). The band is a scan-stage
      // filter; the distinct agg shrinks 5×. Multiplier note: the band
      // covers 200000/1000003 of the hash ring, so the ×5 multiplier is
      // biased by ~1.5e-5 (exact inverse 5.000015) and five 200000-wide
      // bands leave residues 1000000–1000002 uncovered — negligible
      // against sampling noise, and FrontierSpec's partition check runs
      // the last band to the full modulus. Complements the HLL path
      // (q25: full scan, sketch memory) — this one trades a deterministic
      // subset for a 5× smaller exchange. FrontierSpec pins the
      // band-partition identity.
      (s, d) => events(s, d)
        .filter(pmod(pmod(col("user_id"), lit(1000003L)) * lit(8191L) +
          lit(131L), lit(1000003L)) < lit(200000L))
        .groupBy(col("event_type"))
        .agg((count_distinct(col("user_id")) * lit(5L)).as("n_users_est"))
        .orderBy(col("event_type")),
      Some("SELECT event_type, COUNT(DISTINCT user_id) * 5 AS n_users_est FROM events WHERE ((user_id % 1000003) * 8191 + 131) % 1000003 < 200000 GROUP BY 1 ORDER BY 1")),

    QueryDef("q162_weighted_hist_quantile",
      // QUANTITY-weighted price quantiles ("the price below which half
      // the shipped units sit") — the design-weighted quantile estimator
      // a weighted sample (HT/PPS/priority) needs, as a mergeable
      // weighted histogram: bin weight-sums are exact decimals that ADD
      // across partitions/days, interpolation is the q100 expression
      // with cumulative weight for cumulative count. Shuffle bounded by
      // nBins regardless of input size.
      (s, d) => {
        val h = HistQuantile.weightedHistogram(lineitem(s, d),
          col("l_extendedprice"), col("l_quantity"),
          lo = 0.0, width = 2000.0, nBins = 64)
        HistQuantile.weightedQuantiles(h, lo = 0.0, width = 2000.0,
          ps = Seq(0.25, 0.5, 0.75, 0.95))
      },
      Some("""WITH h AS (SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 2000.0) AS BIGINT), 0), 63) AS bin, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wsum FROM lineitem GROUP BY 1), c AS (SELECT bin, wsum, SUM(wsum) OVER (ORDER BY bin) AS cum FROM h), c2 AS (SELECT bin, wsum, cum, cum - wsum AS cum_before FROM c), n AS (SELECT SUM(wsum) AS n FROM h), p AS (SELECT * FROM (VALUES (0.25), (0.5), (0.75), (0.95)) AS t(p)) SELECT p, 0.0 + 2000.0 * CAST(bin AS DOUBLE) + 2000.0 * ((p * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE)) / CAST(wsum AS DOUBLE)) AS est FROM p CROSS JOIN n JOIN c2 ON CAST(cum AS DOUBLE) >= p * CAST(n AS DOUBLE) AND CAST(cum_before AS DOUBLE) < p * CAST(n AS DOUBLE) ORDER BY p""")),

    QueryDef("q159_priority_sample_by_group",
      // group-budgeted priority sampling (Skew.priorityPerKey): every
      // return-flag class gets its own fixed-size-200 weighted sample and
      // its own threshold τ — the per-group answer the global design's
      // GROUP-BY refusal points at. Priorities scan-stage, per-group
      // top-(k+1) via the shard-salted two-phase topNPerKey, estimator
      // one group-keyed aggregate over ≤ 201·groups rows.
      (s, d) => Skew.priorityPerKey(lineitem(s, d), Seq("l_returnflag"),
          lineitemKey.column, col("l_extendedprice"), k = 200)
        .orderBy(col("l_returnflag")),
      Some(OracleSnippets.priorityByReturnFlag(200))),

    QueryDef("q157_universe_join_ci",
      // design-honest error bar for universe join sampling: the 10%
      // universe of q151 split into ten 1% sub-bands, each an independent
      // universe replicate whose ×100 joined sum estimates the total; CI
      // from the replicate spread (the cluster-design analogue of the
      // dual-pointer CI, with the JOIN KEY as the cluster). Same join
      // plan as q151 plus one 10-row aggregate; per-band sums stay exact
      // decimal(18,4) so the replicate moments are exact, then the CI is
      // one fixed IEEE closed form — the q17/q18 momentStats discipline.
      (s, d) => {
        val us = JoinSampling.universeSample(
          lineitem(s, d), col("l_orderkey"),
          orders(s, d).select(col("o_orderkey")), col("o_orderkey"))
        val rev = graft.functions.MoneyDec.roundDec(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 18, 4)
        // replicates floored to whole units (DECIMAL(19,0)): a ~1e11-unit
        // replicate loses sub-unit noise only, and its square stays an
        // EXACT 38-digit decimal in every engine — (18,4)² would overflow
        // DuckDB's multiply
        val perBand = us.left
          .join(us.right, col("l_orderkey") === col("o_orderkey"))
          .groupBy((JoinSampling.band(col("l_orderkey")) / lit(10L))
            .cast("long").as("band"))
          .agg(floor(sum(rev)).cast("decimal(19,0)").as("y"))
        val m = perBand.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("y")).cast("double").as("s"),
          sum(col("y") * col("y")).cast("double").as("s2"))
        val mean = col("s") / col("n")
        val variance = when(col("n") > 1.0,
          (col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1.0))
          .otherwise(lit(0.0))
        val half = lit(1.96) * sqrt(variance / col("n"))
        m.select((mean * lit(100.0)).as("est_revenue"),
          ((mean - half) * lit(100.0)).as("ci_lower"),
          ((mean + half) * lit(100.0)).as("ci_upper"),
          col("n").cast("long").as("n_bands"))
      },
      Some("""WITH j AS (SELECT ((o_orderkey % 1000003) * 8191 + 131) % 1000 AS b, CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(18,4)) AS r FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE ((o_orderkey % 1000003) * 8191 + 131) % 1000 < 100), p AS (SELECT b // 10 AS band, CAST(FLOOR(SUM(r)) AS DECIMAL(19,0)) AS y FROM j GROUP BY 1), m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(y) AS DOUBLE) AS s, CAST(SUM(y * y) AS DOUBLE) AS s2 FROM p) SELECT (s / n) * 100.0 AS est_revenue, (s / n - 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - s * s / n) / (n - 1.0) ELSE 0.0 END) / n)) * 100.0 AS ci_lower, (s / n + 1.96 * SQRT((CASE WHEN n > 1.0 THEN (s2 - s * s / n) / (n - 1.0) ELSE 0.0 END) / n)) * 100.0 AS ci_upper, CAST(n AS BIGINT) AS n_bands FROM m"""))
  )
}
