package graft

import org.apache.spark.sql.functions._

import graft.exec.Estimators
import graft.operators.{Cdc, EventAnalytics, Packing, TextAnalysis}

/** Round-3 widening: replication/auxiliary-variable estimators (the
  * survey-sampling depth beyond closed-form CLT), corpus language-model
  * scoring, and the product-analytics trio (transitions, retention,
  * gaps). Oracle discipline as everywhere else: exact decimal/integer
  * moments, fixed-order IEEE scalar math, full ORDER BY, identical
  * aliases in both engines.
  */
object InventoryAnalytics {
  import graft.Tables._

  val all: Seq[QueryDef] = Seq(

    QueryDef("q127_argmax_join_best_event",
      // the broadcast-join argmax plan (Packing.argmaxViaJoin): per-key
      // max via codegen'd HashAggregate (shuffle ∝ |users|), broadcast the
      // maxima back, window only the handful of survivors — the fact is
      // never shuffled or sorted, unlike q97's SortAggregate / a window.
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        // user_id cardinality is bounded (event fixture users) — the
        // known-small case the broadcastMaxes opt-in exists for
        Packing.argmaxViaJoin(ev, Seq("user_id"), "value",
            Seq("ts_us", "event_id"), broadcastMaxes = true)
          .select(col("user_id"), col("value").as("best_value"),
            col("ts_us").as("best_ts_us"), col("event_id").as("best_event_id"))
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (SELECT user_id, value, epoch_us(ts) AS ts_us, event_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, epoch_us(ts) DESC, event_id DESC) AS rn FROM events) SELECT user_id, value AS best_value, ts_us AS best_ts_us, event_id AS best_event_id FROM r WHERE rn = 1 ORDER BY user_id""")),

    QueryDef("q128_jackknife_sum",
      // delete-a-group jackknife CI for the 10% systematic SUM: 8 random
      // groups cut from the sampling key, replicate spread collapsed to
      // exact decimal moments (Estimators.jackknifeSum scaladoc derives
      // the algebra) — the replication CI that stays valid for estimators
      // with awkward analytic variance.
      (s, d) => Estimators.jackknifeSum(
        lineitem(s, d).filter(pmod(lineitemKey.column, lit(10L)) === 0),
        pmod(expr(s"${lineitemKey.sql} div 10"), lit(8L)),
        col("l_extendedprice"), scale = 10.0, k = 8, alias = "sum_est"),
      Some(s"""WITH s AS (SELECT l_extendedprice, ${lineitemKey.sql} AS k FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), g AS (SELECT (k // 10) % 8 AS jk, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s2 FROM s GROUP BY 1), m AS (SELECT CAST(SUM(s2) AS DOUBLE) AS st, CAST(SUM(CAST(s2 AS DECIMAL(28,2)) * s2) AS DOUBLE) AS st2 FROM g) SELECT st * 10.0 AS sum_est, sqrt(greatest((100.0 * (8.0 / 7.0)) * (st2 - st * st / 8.0), 0.0)) AS sum_est_jk_se, st * 10.0 - 1.96 * sqrt(greatest((100.0 * (8.0 / 7.0)) * (st2 - st * st / 8.0), 0.0)) AS sum_est_ci_lower, st * 10.0 + 1.96 * sqrt(greatest((100.0 * (8.0 / 7.0)) * (st2 - st * st / 8.0), 0.0)) AS sum_est_ci_upper, CAST(8 AS BIGINT) AS sum_est_k FROM m""")),

    QueryDef("q129_ratio_sum",
      // ratio estimator: adjust the sampled price total by the known
      // exact quantity total (Cochran ch. 6) — price and quantity are
      // positively correlated, so the ratio estimate beats plain
      // expansion; emits both so the adjustment is visible.
      (s, d) => {
        val li = lineitem(s, d)
        Estimators.ratioSum(li.filter(pmod(lineitemKey.column, lit(10L)) === 0), li,
          col("l_extendedprice"), col("l_quantity"), scale = 10.0,
          alias = "sum_ratio")
      },
      Some(s"""WITH s AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), x AS (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS xt FROM lineitem) SELECT (sy / sx) * xt AS sum_ratio, sy * 10.0 AS sum_ratio_ht, sy / sx AS sum_ratio_r, xt AS sum_ratio_x_total FROM s CROSS JOIN x""")),

    QueryDef("q130_unigram_rarity",
      // corpus-trained unigram LM scoring (integer-rarity form — the
      // KenLM-style quality signal; TextAnalysis.unigramRarity scaladoc
      // explains the div-for-log substitution)
      (s, d) => TextAnalysis.unigramRarity(documents(s, d), "doc_id", "text"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS term FROM documents), t AS (SELECT doc_id, term FROM tok WHERE length(term) > 0), c AS (SELECT term, COUNT(*) AS n_t FROM t GROUP BY 1), tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_total FROM c) SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(n_total // n_t) AS BIGINT) AS rarity_sum, CAST(CAST(SUM(n_total // n_t) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_rarity FROM t JOIN c USING (term) CROSS JOIN tot GROUP BY doc_id ORDER BY doc_id"""),
      headline = true),

    QueryDef("q131_head_coverage",
      // Zipf-head coverage per source: share of tokens in the corpus
      // top-100 vocabulary — register/drift signal; head is broadcast so
      // the token stream never shuffles
      (s, d) => TextAnalysis.headCoverage(documents(s, d), "source", "text",
        k = 100),
      Some("""WITH tok AS (SELECT source, unnest(string_split_regex(lower(text), ' +')) AS term FROM documents), t AS (SELECT source, term FROM tok WHERE length(term) > 0), c AS (SELECT term, COUNT(*) AS n_t FROM t GROUP BY 1), h AS (SELECT term, CAST(1 AS BIGINT) AS is_head FROM c ORDER BY n_t DESC, term LIMIT 100) SELECT source, COUNT(*) AS n_tokens, CAST(SUM(COALESCE(is_head, 0)) AS BIGINT) AS head_tokens, CAST(CAST(SUM(COALESCE(is_head, 0)) AS BIGINT) AS DOUBLE) / COUNT(*) AS head_coverage FROM t LEFT JOIN h USING (term) GROUP BY source ORDER BY source""")),

    QueryDef("q132_event_transitions",
      // first-order Markov transition matrix over each user's event
      // sequence: one window shuffle on user, |types|² result; p_next is
      // a single exact-integer division
      (s, d) => EventAnalytics.transitions(events(s, d), "user_id", "ts",
        "event_type", "event_id"),
      Some("""WITH o AS (SELECT user_id, event_type, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), c AS (SELECT prev AS prev_type, event_type AS next_type, COUNT(*) AS cnt FROM o WHERE prev IS NOT NULL GROUP BY 1, 2) SELECT prev_type, next_type, cnt, CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS p_next FROM c ORDER BY prev_type, next_type""")),

    QueryDef("q133_retention_cohorts",
      // weekly retention triangle: cohort by ISO week of first event,
      // count active users per (cohort, offset); date_trunc('week') pins
      // Mondays in both engines so offsets are exact integers
      (s, d) => EventAnalytics.retentionCohorts(events(s, d), "user_id", "ts"),
      Some("""WITH fw AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY 1), aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events) SELECT cohort_week, CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) // 7 AS BIGINT) AS week_offset, COUNT(*) AS n_users FROM aw JOIN fw USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q135_regression_sum",
      // GREG model-assisted estimator: OLS slope of price on quantity
      // from the sample, mean corrected by the known auxiliary mean
      // (Estimators.regressionSum) — the estimator family ratio → GREG
      // completed; all moments exact decimals
      (s, d) => {
        val li = lineitem(s, d)
        Estimators.regressionSum(li.filter(pmod(lineitemKey.column, lit(10L)) === 0), li,
          col("l_extendedprice"), col("l_quantity"), scale = 10.0,
          alias = "sum_greg")
      },
      Some(s"""WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx, CAST(SUM(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx, CAST(SUM(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS xt FROM lineitem) SELECT nn * ((sy / n) + (CASE WHEN (n * sxx - sx * sx) <> 0.0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) ELSE 0.0 END) * ((xt / nn) - (sx / n))) AS sum_greg, sy * 10.0 AS sum_greg_ht, CASE WHEN (n * sxx - sx * sx) <> 0.0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) ELSE 0.0 END AS sum_greg_b FROM s CROSS JOIN p""")),

    QueryDef("q136_poststratified_sum",
      // post-stratification: per-stratum expansion anchored on KNOWN
      // stratum counts (count-only scan — free from table stats at
      // scale); emitted per stratum because a cross-stratum double sum
      // would be summation-order-dependent across engines
      (s, d) => {
        val li = lineitem(s, d)
        val sAgg = li.filter(pmod(lineitemKey.column, lit(10L)) === 0)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_samp"),
            sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)).cast("double")
              .as("sy"))
        val pAgg = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_g"))
        pAgg.join(sAgg, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_g"), col("n_samp"),
            (col("n_g").cast("double") * (col("sy") / col("n_samp")))
              .as("t_post"),
            (col("sy") * lit(10.0)).as("t_ht"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH sa AS (SELECT l_returnflag, COUNT(*) AS n_samp, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0 GROUP BY 1), pa AS (SELECT l_returnflag, COUNT(*) AS n_g FROM lineitem GROUP BY 1) SELECT l_returnflag, n_g, n_samp, CAST(n_g AS DOUBLE) * (sy / n_samp) AS t_post, sy * 10.0 AS t_ht FROM pa JOIN sa USING (l_returnflag) ORDER BY 1""")),

    QueryDef("q137_sampled_median",
      // order statistics under sampling: the 10% systematic sample's
      // exact interpolated median vs the population's, plus the relative
      // error — quantifies what the percentile-sketch family (q27) only
      // bounds; percentile ↔ quantile_cont share the h = p·(n−1)
      // interpolation bit-for-bit (q52 precedent)
      (s, d) => {
        val li = lineitem(s, d)
        val sMed = li.filter(pmod(lineitemKey.column, lit(10L)) === 0)
          .agg(percentile(col("l_extendedprice"), lit(0.5)).as("median_samp"))
        val pMed = li
          .agg(percentile(col("l_extendedprice"), lit(0.5)).as("median_exact"))
        sMed.crossJoin(pMed)
          .select(col("median_samp"), col("median_exact"),
            (abs(col("median_samp") - col("median_exact")) /
              col("median_exact") * lit(100.0)).as("rel_err_pct"))
      },
      Some(s"""WITH s AS (SELECT quantile_cont(l_extendedprice, 0.5) AS median_samp FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), p AS (SELECT quantile_cont(l_extendedprice, 0.5) AS median_exact FROM lineitem) SELECT median_samp, median_exact, abs(median_samp - median_exact) / median_exact * 100.0 AS rel_err_pct FROM s CROSS JOIN p""")),

    QueryDef("q138_hybrid_groupby",
      // the reference's size-based method router
      // (enhanced_aqe_cli.py:116-131) made per-group: big groups answered
      // from the in-scan sample, small groups topped up exactly via a
      // semi-join-scoped second pass (Estimators.hybridGroupSum)
      (s, d) => Estimators.hybridGroupSum(lineitem(s, d), "l_suppkey",
        col("l_extendedprice"), lineitemKey.column, step = 5L, minGroupSize = 600L),
      Some(s"""WITH b AS (SELECT l_suppkey, COUNT(*) AS n_rows, SUM(CASE WHEN ${lineitemKey.sql} % 5 = 0 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS s_samp FROM lineitem GROUP BY 1), e AS (SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_exact FROM lineitem WHERE l_suppkey IN (SELECT l_suppkey FROM b WHERE n_rows < 600) GROUP BY 1) SELECT b.l_suppkey, n_rows, CASE WHEN n_rows < 600 THEN 'exact' ELSE 'sampled' END AS method, CASE WHEN n_rows < 600 THEN s_exact ELSE COALESCE(CAST(s_samp AS DOUBLE), 0.0) * 5.0 END AS sum_est FROM b LEFT JOIN e ON b.l_suppkey = e.l_suppkey ORDER BY b.l_suppkey""")),

    QueryDef("q139_fraction_sweep",
      // the error→fraction policy table, measured instead of assumed: one
      // scan evaluates the 5/10/20% nested systematic estimates (key-mod
      // samples refine each other) and their signed relative errors —
      // the empirical backing for ApproxPlanner's compat table
      (s, d) => {
        val dec = graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)
        lineitem(s, d).agg(
            sum(dec).cast("double").as("exact_sum"),
            sum(when(pmod(lineitemKey.column, lit(20L)) === 0, dec)).cast("double")
              .as("__s20"),
            sum(when(pmod(lineitemKey.column, lit(10L)) === 0, dec)).cast("double")
              .as("__s10"),
            sum(when(pmod(lineitemKey.column, lit(5L)) === 0, dec)).cast("double")
              .as("__s5"))
          .select(col("exact_sum"),
            (col("__s20") * lit(20.0)).as("est_f05"),
            (col("__s10") * lit(10.0)).as("est_f10"),
            (col("__s5") * lit(5.0)).as("est_f20"),
            ((col("__s20") * lit(20.0) - col("exact_sum")) /
              col("exact_sum") * lit(100.0)).as("err_f05_pct"),
            ((col("__s10") * lit(10.0) - col("exact_sum")) /
              col("exact_sum") * lit(100.0)).as("err_f10_pct"),
            ((col("__s5") * lit(5.0) - col("exact_sum")) /
              col("exact_sum") * lit(100.0)).as("err_f20_pct"))
      },
      Some(s"""WITH m AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS exact_sum, CAST(SUM(CASE WHEN ${lineitemKey.sql} % 20 = 0 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s20, CAST(SUM(CASE WHEN ${lineitemKey.sql} % 10 = 0 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s10, CAST(SUM(CASE WHEN ${lineitemKey.sql} % 5 = 0 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s5 FROM lineitem) SELECT exact_sum, s20 * 20.0 AS est_f05, s10 * 10.0 AS est_f10, s5 * 5.0 AS est_f20, (s20 * 20.0 - exact_sum) / exact_sum * 100.0 AS err_f05_pct, (s10 * 10.0 - exact_sum) / exact_sum * 100.0 AS err_f10_pct, (s5 * 5.0 - exact_sum) / exact_sum * 100.0 AS err_f20_pct FROM m""")),

    QueryDef("q140_chao_distinct",
      // distinct-count estimation FROM A SAMPLE (famously harder than
      // sketching the full stream): Chao1 lower-bound estimator
      // d̂ = d_samp + f1²/(2·f2) from the sample's singleton/doubleton
      // frequency-of-frequencies — complements the HLL family (q25/q79),
      // which needs a full pass; this needs only the 10% sample plus an
      // exact audit column. Integer f-statistics → deterministic.
      (s, d) => {
        val li = lineitem(s, d)
        val freq = li.filter(pmod(lineitemKey.column, lit(10L)) === 0)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        val fstats = freq.agg(
          count(lit(1)).as("d_samp"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"))
        val exact = li.agg(countDistinct(col("l_partkey")).as("d_exact"))
        fstats.crossJoin(exact).select(
          col("d_samp"), col("f1"), col("f2"), col("d_exact"),
          (col("d_samp") +
            when(col("f2") > 0,
              (col("f1") * col("f1")).cast("double") /
                (lit(2L) * col("f2")))
              .otherwise((col("f1") * (col("f1") - lit(1L))).cast("double") /
                lit(2.0))).as("d_chao1"))
      },
      Some(s"""WITH s AS (SELECT l_partkey FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), c AS (SELECT l_partkey, COUNT(*) AS n FROM s GROUP BY 1), f AS (SELECT COUNT(*) AS d_samp, CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1, CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2 FROM c), e AS (SELECT COUNT(DISTINCT l_partkey) AS d_exact FROM lineitem) SELECT d_samp, f1, f2, d_exact, d_samp + CASE WHEN f2 > 0 THEN CAST(f1 * f1 AS DOUBLE) / (2 * f2) ELSE CAST(f1 * (f1 - 1) AS DOUBLE) / 2.0 END AS d_chao1 FROM f CROSS JOIN e""")),

    QueryDef("q141_median_ci",
      // distribution-free CI for the sampled median (Woodruff / binomial
      // order-statistic bounds): ranks r = n/2 ± z·√(n/4), CI = the
      // sample's r-th order statistics. The global rank window sorts THE
      // SAMPLE only (documented in PLANS.md; production path at 100 TB is
      // the mergeable histogram CI, q100 — this is its exact-gated anchor)
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val samp = lineitem(s, d).filter(pmod(lineitemKey.column, lit(10L)) === 0)
          .select(col("l_extendedprice").as("v"), lineitemKey.column.as("k"))
        val nDf = samp.agg(count(lit(1)).as("n_samp"))
        val mDf = samp.agg(percentile(col("v"), lit(0.5)).as("median_samp"))
        val ranked = samp.withColumn("rn",
          row_number().over(Window.orderBy(col("v"), col("k"))))
        val rlo = greatest(lit(1L),
          floor(lit(0.5) * col("n_samp") -
            lit(1.96) * sqrt(col("n_samp") * lit(0.25))).cast("long"))
        val rhi = least(col("n_samp"),
          ceil(lit(0.5) * col("n_samp") +
            lit(1.96) * sqrt(col("n_samp") * lit(0.25))).cast("long"))
        ranked.crossJoin(broadcast(nDf)).crossJoin(broadcast(mDf))
          .groupBy(col("n_samp"), rlo.as("r_lo"), rhi.as("r_hi"),
            col("median_samp"))
          .agg(max(when(col("rn") === rlo, col("v"))).as("median_ci_lower"),
            max(when(col("rn") === rhi, col("v"))).as("median_ci_upper"))
      },
      Some(s"""WITH s AS (SELECT l_extendedprice AS v, ${lineitemKey.sql} AS k FROM lineitem WHERE ${lineitemKey.sql} % 10 = 0), nn AS (SELECT COUNT(*) AS n_samp FROM s), m AS (SELECT quantile_cont(v, 0.5) AS median_samp FROM s), r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, k) AS rn FROM s) SELECT n_samp, GREATEST(1, CAST(FLOOR(0.5 * n_samp - 1.96 * SQRT(n_samp * 0.25)) AS BIGINT)) AS r_lo, LEAST(n_samp, CAST(CEIL(0.5 * n_samp + 1.96 * SQRT(n_samp * 0.25)) AS BIGINT)) AS r_hi, median_samp, MAX(CASE WHEN rn = GREATEST(1, CAST(FLOOR(0.5 * n_samp - 1.96 * SQRT(n_samp * 0.25)) AS BIGINT)) THEN v END) AS median_ci_lower, MAX(CASE WHEN rn = LEAST(n_samp, CAST(CEIL(0.5 * n_samp + 1.96 * SQRT(n_samp * 0.25)) AS BIGINT)) THEN v END) AS median_ci_upper FROM r CROSS JOIN nn CROSS JOIN m GROUP BY 1, 2, 3, 4""")),

    QueryDef("q142_wav_decode",
      // REAL multimodal decode, oracle-proven: every doc becomes a
      // spec-valid PCM WAV whose parameters are pure doc_id arithmetic;
      // Spark decodes the actual RIFF bytes (Multimodal.decodeWavMeta
      // walks chunks like any standalone tool), DuckDB predicts the
      // metadata arithmetically — a hash match proves the byte-level
      // encode→decode roundtrip, not just the plumbing
      (s, d) => {
        val wav = graft.operators.Multimodal.syntheticWav(documents(s, d))
        graft.operators.Multimodal.decodeWavMeta(wav).toDF()
          .groupBy(col("sample_rate").cast("bigint").as("sample_rate"),
            col("channels").cast("bigint").as("channels"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("n_samples")).as("sum_samples"),
            sum(col("duration_ms")).as("sum_duration_ms"))
          .orderBy(col("sample_rate"), col("channels"))
      },
      Some("""SELECT 8000 + (doc_id % 4) * 4000 AS sample_rate, 1 + doc_id % 2 AS channels, COUNT(*) AS n_files, CAST(SUM(50 + doc_id % 100) AS BIGINT) AS sum_samples, CAST(SUM((50 + doc_id % 100) * 1000 // (8000 + (doc_id % 4) * 4000)) AS BIGINT) AS sum_duration_ms FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q143_bmp_decode",
      // image twin of q142: spec-valid 24-bit BMPs generated from doc_id
      // arithmetic, decoded by the real BITMAPINFOHEADER parser, oracle
      // predicts dimensions arithmetically — hash match proves the
      // image-container roundtrip
      (s, d) => {
        val bmp = graft.operators.Multimodal.syntheticBmp(documents(s, d))
        graft.operators.Multimodal.decodeBmpMeta(bmp).toDF()
          .groupBy(col("width").cast("bigint").as("width"),
            col("height").cast("bigint").as("height"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("n_pixels")).as("sum_pixels"))
          .orderBy(col("width"), col("height"))
      },
      Some("""SELECT 16 + (doc_id % 7) * 8 AS width, 9 + (doc_id % 5) * 6 AS height, COUNT(*) AS n_files, CAST(SUM((16 + (doc_id % 7) * 8) * (9 + (doc_id % 5) * 6)) AS BIGINT) AS sum_pixels FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q144_incremental_join",
      // incremental JOIN-view maintenance (IVM): the per-status revenue
      // view over lineitem⋈orders is maintained from CHANGE DELTAS only —
      // A1⋈B1 = A0⋈B0 ⊕ ΔA⋈B0 ⊕ A1⋈ΔB (Cdc.signedJoinAgg scaladoc) —
      // and the oracle recomputes the new join from scratch; the hash
      // match proves maintained ≡ rebuilt. Both sides get inserts AND
      // deletes. Maintenance cost ∝ change volume, never the corpus.
      (s, d) => {
        val li = lineitem(s, d).select(col("l_orderkey"),
          col("l_extendedprice"))
        val or = orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderstatus"))
        val k = col("l_orderkey")
        val a0 = li.filter(pmod(k, lit(7L)) =!= 0)
        val a1 = li.filter(pmod(k, lit(7L)) =!= 1)
        val dA = li.filter(pmod(k, lit(7L)) === 0).withColumn("sign", lit(1))
          .unionByName(
            li.filter(pmod(k, lit(7L)) === 1).withColumn("sign", lit(-1)))
        val b0 = or.filter(pmod(k, lit(10L)) =!= 0)
        val dB = or.filter(pmod(k, lit(10L)) === 0).withColumn("sign", lit(1))
          .unionByName(
            or.filter(pmod(k, lit(10L)) === 1).withColumn("sign", lit(-1)))
        val j0 = a0.join(b0, "l_orderkey").groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("dn"),
            sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2))
              .cast("decimal(18,2)").as("dsum"))
        val d1 = Cdc.signedJoinAgg(dA, b0.withColumn("sign", lit(1)),
          "l_orderkey", Seq("o_orderstatus"), col("l_extendedprice"))
        val d2 = Cdc.signedJoinAgg(a1.withColumn("sign", lit(1)), dB,
          "l_orderkey", Seq("o_orderstatus"), col("l_extendedprice"))
        j0.unionByName(d1).unionByName(d2)
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("dn")).as("n_rows"),
            sum(col("dsum")).cast("double").as("sum_price"))
          .filter(col("n_rows") > 0)
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_rows, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_orderkey % 7 <> 1 AND o_orderkey % 10 <> 1 GROUP BY 1 ORDER BY 1""")),

    QueryDef("q134_event_gaps",
      // per-user inactivity audit: gaps over 6 h between consecutive
      // events — exact integer microsecond arithmetic, one user-keyed
      // window shuffle
      (s, d) => EventAnalytics.timeGaps(events(s, d), "user_id", "ts",
        "event_id", gapMicros = 21600000000L),
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) AS us, LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pus FROM events), g AS (SELECT user_id, us - pus AS gap FROM o WHERE pus IS NOT NULL) SELECT user_id, COUNT(*) AS n_intervals, CAST(SUM(CASE WHEN gap > 21600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps, MAX(gap) AS max_gap_us FROM g GROUP BY 1 HAVING SUM(CASE WHEN gap > 21600000000 THEN 1 ELSE 0 END) > 0 ORDER BY 1"""))
  )
}
