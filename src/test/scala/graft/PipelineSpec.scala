package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, TextAnalysis}
import graft.functions.VectorOps

class PipelineSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf0001)
  private def embs = Tables.embeddings(spark, sf0001)

  // -- dedup ---------------------------------------------------------------

  test("minhash LSH near-dup pairs equal the exact all-pairs answer (recall 1)") {
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.allPairsJaccard(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("MinHashSig kernel bands equal the explode+64-min-aggregate banding bit-for-bit") {
    // the round-14 scan-stage kernel replaced lshBands' explode + groupBy
    // aggregate; this reconstructs the OLD shape (same interleaved a/b
    // draws, same pmod chain, same band-sig string hash) and pins equality
    // on the fixture plus an empty/short-doc edge (explode emitted no row
    // there; the kernel must yield no band rows either)
    import spark.implicits._
    val edge = Seq((900001L, ""), (900002L, "one two"),
      (900003L, "one two three"),
      (900004L, "héllo wörld déjà vu encore"),
      (900005L, "emoji 😀🎉 mix 文字 end"),
      (900006L, " lead  x   y trail ")).toDF("doc_id", "text")
    val df = docs.select(col("doc_id"), col("text")).unionAll(edge)
    val (numHashes, bands, shingleN, seed) = (64, 16, 3, 42L)
    val rows = numHashes / bands
    val p = lit(2147483647L)
    val rng = new scala.util.Random(seed)
    val ab = Seq.fill(numHashes)((rng.nextInt(Int.MaxValue - 1).toLong + 1,
      rng.nextInt(Int.MaxValue).toLong))
    val exploded = df
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), shingleN)).as("s"))
      .select(col("doc_id"), Dedup.shingleHash(col("s")).as("h"))
    val minAggs = ab.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), p)).as(s"m$i")
    }
    val sig = exploded.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bandSigs = (0 until bands).map { bnd =>
      xxhash64(concat_ws(",",
        (bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i")): _*))
    }
    val legacy = sig.select(col("doc_id"), posexplode(array(bandSigs: _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val kernel = Dedup.lshBands(df, "doc_id", "text", shingleN, numHashes,
        bands, seed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(kernel === legacy)
    assert(!kernel.exists(t => t._1 == 900001L || t._1 == 900002L),
      "sub-shingle docs must emit no band rows, as under explode")
    assert(kernel.exists(_._1 == 900003L))
  }

  test("prefix-filtered ngram Jaccard join is exact at thresholds LSH cannot guarantee") {
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val pf = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Dedup.allPairsJaccard(docs, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pf === exact, s"threshold $t: prefix-filter join must equal all-pairs")
    }
  }

  test("hot-bucket cap: a planted 1000-member clique emits linear star pairs and identical clusters") {
    import spark.implicits._
    val clique = (1L to 1000L)
      .map(i => (i, "the same boilerplate text repeated verbatim across every member of this clique"))
      .toDF("doc_id", "text")
    // capped candidate fan-out is N-1 (min-id star), not N(N-1)/2 = 499500
    val capped = Dedup.lshCandidatePairs(clique, "doc_id", "text", maxBucket = 64)
    assert(capped.count() == 999L)
    assert(capped.filter(col("id_a") === 1L).count() == 999L, "star centre must be the min id")
    // end-to-end: the capped pair list yields the same connected component
    val pairs = Dedup.nearDupPairs(clique, "doc_id", "text", threshold = 0.8,
      maxBucket = 64)
    val clusters = Dedup.dupClusters(pairs).collect()
    assert(clusters.length == 1000 && clusters.forall(_.getLong(1) == 1L))
    // simhash pigeonhole path: same linear fan-out under the cap
    val sim = Dedup.simhashNearDupPairs(clique, "doc_id", "text",
      maxHamming = 3, maxBucket = 64)
    assert(sim.count() == 999L)
    // below the cap nothing changes: fixture candidates identical to uncapped
    val dflt = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt === uncapped)
  }

  test("size-ratio pre-prune is lossless and actually prunes cross-size candidates") {
    // size-heterogeneous corpus: every doc gets a prefix-truncated twin
    // (first ~third of its words). J(doc, twin) ≈ 1/3 < 0.8, yet enough
    // twins collide in some LSH band (per-pair ≈ 1−(1−J⁴)¹⁶ ≈ 18%) to
    // create candidate pairs the size bound alone refutes.
    val base = docs.select(col("doc_id"), col("text"))
    val trunc = base.select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), lit(1),
        greatest(lit(1), (size(split(col("text"), " ")) / 3)))).as("text"))
    val corpus = base.unionAll(trunc)
    def run(prune: Boolean) =
      Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.8,
          sizePrune = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(true) === run(false), "pre-prune must not change the answer")
    // ...and it provably fires: the pruned candidate list is strictly
    // smaller than the raw one on this fixture
    val cands = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
      .persist()
    val pruned = Dedup.sizePrunePairs(cands, corpus, "doc_id", "text", 3, 0.8)
    assert(pruned.count() < cands.count(),
      "fixture must contain cross-size candidates for the prune to refute")
    cands.unpersist()
  }

  test("duplicated-span removal excises shared spans, keeps unique text, ignores sub-k repeats") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // 10-word boilerplate
    val fixture = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $boiler"),
      // within-doc repetition: the same 8-gram twice in ONE doc
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 fill r1 r2 r3 r4 r5 r6 r7 r8"),
      // sub-k repetition: a 3-word phrase repeated — must survive at k=8
      (4L, "the quick fox u1 u2 u3 u4 u5 the quick fox v1 v2 v3 v4 v5"),
      (5L, "wholly unique words that appear nowhere else in this corpus")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(fixture, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the shared 10-word boilerplate vanishes from BOTH docs, unique tails stay
    assert(out(1L) === (("alpha beta gamma delta epsilon zeta eta theta", 18L, 10L)))
    assert(out(2L) === (("iota kappa lambda mu nu xi omicron pi", 18L, 10L)))
    // both occurrences of the within-doc duplicated span are removed
    assert(out(3L) === (("fill", 17L, 16L)))
    // sub-k repeats are NOT spans: doc untouched
    assert(out(4L)._3 === 0L && out(4L)._1.startsWith("the quick fox"))
    assert(out(5L) === (("wholly unique words that appear nowhere else in this corpus", 10L, 0L)))
    // keep-first (paper policy): the earliest occurrence survives — doc 1
    // keeps the boilerplate intact, doc 2 still loses it; doc 3's second
    // within-doc occurrence goes, the first stays
    val kf = Dedup.removeDuplicatedSpans(fixture, "doc_id", "text", k = 8,
        keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(kf(1L)._3 === 0L && kf(1L)._1.startsWith(boiler))
    assert(kf(2L) === (("iota kappa lambda mu nu xi omicron pi", 18L, 10L)))
    assert(kf(3L) === (("r1 r2 r3 r4 r5 r6 r7 r8 fill", 17L, 8L)))
    // long-span policy: at minSpanWords = 12 the 10-word boilerplate run
    // SURVIVES (short accidental overlap), while a planted 14-word span
    // is still excised from both carriers
    val long14 = (1 to 14).map(i => s"L$i").mkString(" ")
    val fixtureL = fixture.unionAll(Seq(
      (6L, s"$long14 unique tail six seven eight nine"),
      (7L, s"prefix words here $long14")).toDF("doc_id", "text"))
    val lp = Dedup.removeDuplicatedSpans(fixtureL, "doc_id", "text", k = 8,
        minSpanWords = 12)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(lp(1L)._3 === 0L && lp(2L)._3 === 0L,
      "10-word boilerplate run is below the 12-word floor and must survive")
    assert(lp(3L)._3 === 0L, "8-word within-doc repeats survive the floor")
    assert(lp(6L) === (("unique tail six seven eight nine", 20L, 14L)))
    assert(lp(7L) === (("prefix words here", 17L, 14L)))
    // profile under the same floor agrees: only the two 14-word spans count
    val profL = Dedup.duplicatedSpanProfile(
        fixtureL.withColumn("src", lit("s")), "doc_id", "text", "src",
        k = 8, minSpanWords = 12).collect().head
    assert(profL.getLong(3) === 28L,
      "long-only profile must count exactly the two 14-word spans")
    // kernel lock: the allocation-free positional gram-hash kernel equals
    // the interpreted HOF twin bit-for-bit on the corpus and edge strings
    // (unicode, leading/trailing/multiple spaces, short docs, empty)
    val edge = Seq((100L, ""), (101L, " "), (102L, "a"),
      (103L, "  leading  and   multiple spaces  x y z w v u t s"),
      (104L, "ünïcode ﬁ 漢字 mixed tokens here eight nine ten"),
      (105L, (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    for (src <- Seq(docs.select(col("doc_id"), col("text")), edge); kk <- Seq(1, 3, 8)) {
      val kern = Dedup.spanGramOccurrences(src, "doc_id", "text", kk)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val fold = Dedup.spanGramOccurrencesFold(src, "doc_id", "text", kk)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(kern === fold, s"kernel must equal HOF twin at k=$kk")
    }
    // incremental fold (keep-first): 3 append-ordered drops through the
    // gram index reproduce the one-shot answer bit-for-bit, with and
    // without the bloom-staged index probe
    val oneShot = kf
    for (bloomItems <- Seq(0L, 1024L)) {
      import spark.implicits._
      var idx = Seq.empty[Long].toDF("h")
      var folded = Map.empty[Long, (String, Long, Long)]
      for (batch <- Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L))) {
        val (cleaned, newGrams) = Dedup.removeDuplicatedSpansIncremental(
          fixture.filter(col("doc_id").isin(batch: _*)), idx,
          "doc_id", "text", k = 8, bloomExpectedItems = bloomItems)
        folded ++= cleaned.collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        idx = idx.unionAll(newGrams).localCheckpoint(true)
      }
      assert(folded === oneShot,
        s"incremental fold (bloom=$bloomItems) must equal one-shot keep-first")
    }
    // profile over the same fixture agrees with the per-doc numbers
    val prof = Dedup.duplicatedSpanProfile(
        fixture.withColumn("src", lit("s")), "doc_id", "text", "src", k = 8)
      .collect()
    assert(prof.length == 1)
    val p = prof.head
    assert(p.getLong(1) == 5L && p.getLong(2) == 79L && p.getLong(3) == 36L)
    assert(p.getLong(4) == 36L * 1000000L / 79L)
  }

  test("winnowing fingerprints: kernel lock, span guarantee, partial overlap MinHash misses") {
    import spark.implicits._
    // kernel ≡ declarative twin on corpus + edge strings
    val edge = Seq((100L, ""), (101L, "a"), (102L, "a b c"),
      (103L, (1 to 30).map(i => s"t$i").mkString(" ")),
      (104L, "same same same same same same same same same same"))
      .toDF("doc_id", "text")
    for (src <- Seq(docs.select(col("doc_id"), col("text")), edge);
         (kk, ww) <- Seq((4, 8), (3, 5), (1, 1))) {
      val kern = src.select(col("doc_id"),
          Dedup.winnowFingerprints(col("text"), kk, ww).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val fold = src.select(col("doc_id"),
          Dedup.winnowFingerprintsFold(col("text"), kk, ww).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(kern === fold, s"kernel must equal HOF twin at k=$kk w=$ww")
    }
    // guarantee: sharing a span of w + k − 1 = 11 words ⇒ ≥ 1 shared
    // fingerprint, at ANY alignment (sweep the prefix length)
    val span = (1 to 11).map(i => s"s$i").mkString(" ")
    for (pre <- 0 to 6) {
      val prefix = (1 to pre).map(i => s"p$i").mkString(" ")
      val pair = Seq(
        (1L, s"$span ${(1 to 20).map(i => s"a$i").mkString(" ")}"),
        (2L, (s"$prefix $span ${(1 to 9).map(i => s"b$i").mkString(" ")}").trim))
        .toDF("doc_id", "text")
      val shared = Dedup.winnowOverlapPairs(pair, "doc_id", "text",
        k = 4, w = 8, minShared = 1)
      assert(shared.count() === 1L,
        s"11-word shared span at offset $pre must yield >= 1 shared fingerprint")
    }
    // the partial-overlap case: two long docs sharing ONE 15-word
    // paragraph (doc Jaccard ≈ 0.14 — far below any near-dup threshold);
    // MinHash at 0.8 finds nothing, winnowing flags the pair
    val para = (1 to 15).map(i => s"q$i").mkString(" ")
    val partial = Seq(
      (1L, s"${(1 to 45).map(i => s"x$i").mkString(" ")} $para"),
      (2L, s"$para ${(1 to 45).map(i => s"y$i").mkString(" ")}"),
      (3L, (1 to 60).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupPairs(partial, "doc_id", "text", threshold = 0.8)
      .count() === 0L, "whole-doc MinHash must dilute the shared paragraph")
    val found = Dedup.winnowOverlapPairs(partial, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === Set((1L, 2L)),
      "winnowing must flag exactly the paragraph-sharing pair")
    // containment asymmetry: a doc that IS the paragraph has most of its
    // sketch inside the long carrier; the carrier's rate stays low
    val withSubset = partial.unionAll(Seq((4L, para)).toDF("doc_id", "text"))
    val cont = Dedup.winnowContainmentPairs(withSubset, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(5), r.getLong(6))).toMap
    val (contCarrier, contSubset) = cont((1L, 4L))
    assert(contSubset > contCarrier,
      "the embedded doc's containment rate must exceed the carrier's")
    // novelty-at-ingest: verbatim repeat scores 0, fresh text 1e6,
    // gram-less short docs 0 by convention
    val prior = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val idx = Dedup.spanGramIndex(prior, "doc_id", "text", k = 8)
    val nov = Dedup.gramNoveltyScores(Seq(
        (2L, "a b c d e f g h i j"),
        (3L, "totally fresh words nobody has ever written down before now"),
        (4L, "short")).toDF("doc_id", "text"),
        idx, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(nov === Map(2L -> 0L, 3L -> 1000000L, 4L -> 0L))
  }

  test("heavy hitters equals groupBy+HAVING on skewed, uniform, and all-distinct data") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    def exact(df: org.apache.spark.sql.DataFrame, support: Double) = {
      val n = df.count()
      df.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= math.ceil(support * n).toLong)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    def got(df: org.apache.spark.sql.DataFrame, support: Double) =
      HeavyHitters.heavyHitters(df, "k", support)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // heavy keys spread across many partitions + a long uniform tail
    val skewed = ((1 to 3000).map(i => i.toLong % 7) ++ // 7 heavy keys
        (1 to 2000).map(i => 1000L + i))               // 2000 singletons
      .toDF("k").repartition(16)
    assert(got(skewed, 0.05) === exact(skewed, 0.05))
    assert(got(skewed, 0.05).nonEmpty)
    // all distinct: no key reaches any support
    val distinctDf = (1L to 5000L).toDF("k").repartition(16)
    assert(got(distinctDf, 0.01) === Set.empty)
    // one mega-key that dominates every partition
    val mega = ((1 to 4000).map(_ => 42L) ++ (101 to 200).map(_.toLong))
      .toDF("k").repartition(16)
    assert(got(mega, 0.5) === exact(mega, 0.5))
    assert(got(mega, 0.5).head === (42L -> 4000L))
  }

  test("asof backward join picks the latest right row at-or-before, deterministically") {
    import spark.implicits._
    import graft.operators.AsofJoin
    // right: (key, ord, rid) — includes a tie at ord=10 for key 1
    val right = Seq((1L, 5L, 100L), (1L, 10L, 101L), (1L, 10L, 102L),
      (1L, 20L, 103L), (2L, 7L, 200L))
      .toDF("k", "ord", "rid")
    // left: exact-tie match (10), between (15), before-any (3), other key, no-right key
    val left = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 3L, "c"),
      (2L, 7L, "d"), (3L, 99L, "e"))
      .toDF("k", "ord", "tag")
    val out = AsofJoin.backward(left, right, key = "k",
      leftOrder = "ord", rightOrder = "ord",
      rightCols = Seq("rid"), rightTieBreak = "rid")
      .select(col("tag"), col("asof_rid")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(
      "a" -> 102L, // ord=10 inclusive; tie broken by max rid
      "b" -> 102L, // latest <= 15 is ord=10
      "c" -> -1L,  // nothing at or before 3
      "d" -> 200L, // equal ord on the other key
      "e" -> -1L)) // key absent from right
  }

  test("band join equals the naive cross-join filter, including cross-bin pairs") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // ords straddle bin boundaries for band=10 (bins at 0,10,20,...):
    // (9,11) cross-bin within band; (0,10) exactly at band; (5,16) outside
    val rows = Seq((1L, 0L, 10L), (1L, 9L, 11L), (1L, 11L, 12L), (1L, 16L, 13L),
      (1L, 10L, 14L), (2L, 9L, 20L), (2L, 11L, 21L), (3L, 100L, 30L))
      .toDF("k", "ord", "id")
    val got = RangeJoin.bandJoin(rows, rows, "k", "ord", "ord", band = 10L)
      .filter(col("l_id") < col("r_id"))
      .select(col("l_id"), col("r_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = rows.as("a").crossJoin(rows.as("b"))
      .filter(col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
        abs(col("a.ord") - col("b.ord")) <= 10L)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
    assert(got.contains((10L, 11L)), "cross-bin pair (ord 0,9) must match")
    assert(got.contains((10L, 14L)), "pair at exactly band distance must match")
    assert(!got.contains((10L, 13L)), "ord 0 vs 16 exceeds the band")
    // exactly-once: no duplicate pairs from the 3-bin replication
    val withDups = RangeJoin.bandJoin(rows, rows, "k", "ord", "ord", band = 10L)
      .filter(col("l_id") < col("r_id")).count()
    assert(withDups === got.size.toLong)
  }

  test("repetitionSignals counts top/duplicate n-gram occurrences per doc") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // "a b a b c": bigrams [a b, b a, a b, b c] -> top 2, total 4, dup 2
    //              trigrams [a b a, b a b, a b c] -> top 1, total 3, dup 0
    val docs = Seq((1L, "s1", "a b a b c"), (2L, "s1", "x y z"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text", keep = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got((1L, 2)) === ((2L, 4L, 2L)))
    assert(got((1L, 3)) === ((1L, 3L, 0L)))
    assert(got((2L, 2)) === ((1L, 2L, 0L)))
    assert(got((2L, 3)) === ((1L, 1L, 0L)))
  }

  test("redactPii masks planted emails/phones/IPs and leaves clean text alone") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "contact bob.smith+x@mail.example.org or 25-989-741-2988 now"),
      (2L, "server at 10.0.255.14 rebooted"),
      (3L, "user@10.0.0.1 logged in"),  // email wins over inner IP
      (4L, "nothing sensitive here 1234"))
      .toDF("id", "text")
    val out = docs.select(col("id"), TextAnalysis.redactPii(col("text")).as("r"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.emailPattern).as("ne"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.phonePattern).as("np"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L)._1 === "contact <EMAIL> or <PHONE> now")
    assert(out(1L)._2 === 1 && out(1L)._3 === 1)
    assert(out(2L)._1 === "server at <IP> rebooted")
    assert(out(3L)._1 === "<EMAIL> logged in")
    assert(out(4L)._1 === "nothing sensitive here 1234")
  }

  test("bloom semi-join: no false negatives, exact variant matches a real semi-join") {
    import spark.implicits._
    import graft.operators.BloomJoin
    val fact = (1L to 2000L).map(i => (i, i % 7)).toDF("k", "v")
    val build = (1L to 2000L).filter(_ % 13 == 0).map(Tuple1(_)).toDF("bk")
    val exact = fact.join(build, col("k") === col("bk"), "left_semi")
      .select("k").as[Long].collect().toSet
    val approx = BloomJoin.bloomSemiJoin(fact, build, "k", "bk", 200L, 4000L)
      .select("k").as[Long].collect().toSet
    assert(exact.subsetOf(approx), "bloom must not drop true matches")
    val pruned = BloomJoin.bloomPrunedSemiJoin(fact, build, "k", "bk", 200L, 4000L)
      .select("k").as[Long].collect().toSet
    assert(pruned === exact)
  }

  test("packSequences fills budget bins in order; latestPerKey keeps one deterministic winner") {
    import spark.implicits._
    import graft.operators.Packing
    // tokens 300+300 cross the 512 boundary: doc 2 overflows pack 0,
    // doc 3 starts pack 1 (before=600)
    val docs = Seq((1L, "s", 300L), (2L, "s", 300L), (3L, "s", 100L), (4L, "t", 600L), (5L, "t", 10L))
      .toDF("doc_id", "src", "n_tokens")
    val packed = Packing.packSequences(docs, "doc_id", "n_tokens", "src", 512L)
      .select("doc_id", "pack").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
    val ev = Seq((7L, 100L, 1L), (7L, 200L, 2L), (7L, 200L, 3L), (8L, 50L, 4L))
      .toDF("user_id", "ts_us", "event_id")
    val latest = Packing.latestPerKey(ev, Seq("user_id"), Seq("ts_us", "event_id"))
      .select("user_id", "event_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest === Map(7L -> 3L, 8L -> 4L)) // ties broken by highest event_id
  }

  test("corpusMix keeps ~1/step per group and exactNPerGroup is exact and deterministic") {
    import spark.implicits._
    import graft.operators.Mixing
    val docs = (0L until 2000L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
    val mixed = Mixing.corpusMix(docs, "id", "g",
      Map("g0" -> 1L, "g1" -> 2L, "g2" -> 10L), defaultStep = 5L)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed("g0") === 500) // step 1 keeps everything
    // hash decorrelates the id%4 striping: rates land near 1/step
    assert(math.abs(mixed("g1") - 250.0) / 250.0 < 0.25)
    assert(math.abs(mixed("g2") - 50.0) / 50.0 < 0.5)
    assert(math.abs(mixed("g3") - 100.0) / 100.0 < 0.4)
    val s1 = Mixing.exactNPerGroup(docs, "id", "g", 7)
    assert(s1.groupBy("g").count().collect().forall(_.getLong(1) === 7))
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(s1) === ids(Mixing.exactNPerGroup(docs.repartition(13), "id", "g", 7)))
    assert(ids(Mixing.exactNGlobal(docs, "id", 25)).size === 25)
  }

  test("trailingRows/trailingRange compute prior-frame stats; topTerms ranks by count") {
    import spark.implicits._
    import graft.operators.{Rolling, TextAnalysis}
    val ev = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 20L, 3L), (1L, 500L, 4L))
      .toDF("k", "tick", "v")
    val r = Rolling.trailingRows(ev, Seq("k"), Seq("tick", "v"), col("v"), k = 2)
      .orderBy("tick", "v")
      .select("prev_n", "prev_sum").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r === Array((0L, 0L), (1L, 1L), (2L, 3L), (2L, 5L)))
    val t = Rolling.trailingRange(ev, Seq("k"), "tick", col("v"), lookback = 100L)
      .orderBy("tick", "v")
      .select("win_n", "win_sum").collect().map(x => (x.getLong(0), x.getLong(1)))
    // ties at tick 20 are concurrent -> excluded from each other's frame;
    // tick 500 sees nothing within 100
    assert(t === Array((0L, 0L), (1L, 1L), (1L, 1L), (0L, 0L)))
    val docs = Seq(("s", "b b a a a"), ("s", "a c"), ("t", "z")).toDF("src", "text")
    val top = TextAnalysis.topTerms(docs, "src", "text", 2)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getInt(3)))
    assert(top.toSet === Set(("s", "a", 4L, 1), ("s", "b", 2L, 2), ("t", "z", 1L, 1)))
  }

  test("chunkDocs slides overlapping token windows with short tails") {
    import spark.implicits._
    // 10 tokens, chunk 4, stride 3 -> starts 0,3,6,9; last two are short
    val docs = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "doc_id", "text", 4, 3)
      .select("doc_id", "chunk", "chunk_text", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(got === Array(
      (1L, 0L, "t0 t1 t2 t3", 4L), (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t6 t7 t8 t9", 4L), (1L, 3L, "t9", 1L),
      (2L, 0L, "solo", 1L)))
  }

  test("dupClusters labels transitive components by their min member") {
    import spark.implicits._
    // chain 1-2-3 plus pair 10-11 plus isolated pair 20-21: three components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (3L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // long chain exercises multi-round propagation (diameter 6)
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainGot = Dedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot.values.toSet === Set(1L) && chainGot.size === 7)
  }

  test("dupClusters fails loudly on a component of diameter > maxRounds instead of mislabeling") {
    import spark.implicits._
    // a path graph of diameter 6 cannot collapse in 3 rounds of 1-hop
    // min-label propagation: every consumer (min-id representative rule,
    // reconcileKept) assumes FULL collapse, so a silent partial labeling
    // would split one cluster into several — the loop must throw
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(path, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the same graph converges with enough rounds — and stops EARLY on
    // convergence, so the default 20 costs nothing extra here
    val ok = Dedup.dupClusters(path, maxRounds = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(1L) && ok.size === 7)
  }

  /** Declarative twin of [[Dedup.dupClusters]]: identity-seeded min-label
    * propagation — every id starts labeled by itself, each round takes the
    * min over its own and its neighbors' labels, and the loop stops at the
    * first round that changes nothing. None when `maxRounds` rounds do not
    * reach that round (where dupClusters throws). */
  private def identitySeededClusters(pairs: Seq[(Long, Long)],
      maxRounds: Int): Option[Map[Long, Long]] = {
    val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (id, es) => id -> es.map(_._2) }
    var labels = nbrs.map { case (id, _) => id -> id }
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val next = labels.map { case (id, l) => id -> (l +: nbrs(id).map(labels)).min }
      converged = next == labels
      labels = next
      round += 1
    }
    if (converged) Some(labels) else None
  }

  test("edge-seeded dupClusters equals the identity-seeded propagation: labels, maxRounds, fewer jobs") {
    import spark.implicits._
    def clusters(pairs: Seq[(Long, Long)], maxRounds: Int): Option[Map[Long, Long]] =
      try Some(Dedup.dupClusters(pairs.toDF("id_a", "id_b"), maxRounds = maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      catch { case e: IllegalStateException
        if e.getMessage.contains("did not converge") => None }
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val chain = Seq((20L, 21L), (21L, 22L)) // A~B, B~C, A≁C
    val star = (31L to 36L).map(leaf => (37L, leaf)) // center above its leaves
    val selfPair = Seq((40L, 40L))
    val shapes = Seq("clique" -> clique, "chain" -> chain, "star" -> star,
      "self-pair" -> selfPair, "empty" -> Seq.empty[(Long, Long)],
      "all" -> (clique ++ chain ++ star ++ selfPair))
    for ((name, pairs) <- shapes) {
      val want = identitySeededClusters(pairs, 20)
      assert(want.isDefined)
      assert(clusters(pairs, 20) === want, s"$name labels")
    }
    // the maxRounds contract: a path of 8 nodes converges for exactly the
    // round budgets the identity-seeded loop converges for
    val path = (1L to 7L).map(i => (i, i + 1))
    for (maxRounds <- 0 to 9)
      assert(clusters(path, maxRounds) === identitySeededClusters(path, maxRounds),
        s"path with maxRounds=$maxRounds")
    assert(identitySeededClusters(path, 3).isEmpty,
      "precondition: the path is longer than 3 rounds can collapse")
    // the edge seed drops the identity-label staging and round 0's join,
    // and the edge cache dedups after its repartition: 13 jobs per call
    // on a clique plus a 4-node chain, where the identity seed ran 18
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L),
      (12L, 13L)).toDF("id_a", "id_b")
    val (_, count) = jobsDuring(Dedup.dupClusters(pairs).collect())
    assert(count.jobs < 18, s"dupClusters ran ${count.jobs} jobs")
  }

  test("codegen simhashSketch is bit-identical to the expression-form simhash64") {
    val viaExpr = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Dedup.simhashSketch(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg.keySet === viaExpr.keySet)
    val diffs = viaExpr.keys.filter(k => viaExpr(k) != viaAgg(k))
    assert(diffs.isEmpty, s"sketch mismatch for doc_ids: ${diffs.take(5).toSeq}")
  }

  test("simhash finds the high-jaccard planted pairs") {
    val planted = Dedup.allPairsJaccard(docs, "doc_id", "text", threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash@3 is coarser than jaccard>=0.95; it must still catch most
    val caught = planted.intersect(sim).size.toDouble / planted.size
    assert(caught >= 0.8, s"simhash caught only ${planted.intersect(sim).size}/${planted.size}")
  }

  test("fingerprint dedup is idempotent and keeps distinct docs") {
    val n = docs.count()
    val d1 = Dedup.fingerprintDedup(docs)
    assert(d1.count() <= n)
    assert(Dedup.fingerprintDedup(d1).count() === d1.count())
  }

  test("native shingles kernel is bit-identical to the declarative fold on corpus and edges") {
    import spark.implicits._
    val edges = Seq("", " ", "a", "a b", "a b c", "a b c d",
      " lead trail ", "x  y   z w", "dup dup dup dup dup",
      // multi-byte UTF-8 (the byte-level tokenizer's risk surface):
      // 2/3/4-byte code points, surrogate-pair emoji, NBSP (not split),
      // tabs/newlines inside tokens (split matches 0x20 only)
      "h\u00e9llo w\u00f6rld d\u00e9j\u00e0 vu",
      "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 \u51e6\u7406",
      "emoji \ud83d\ude00\ud83c\udf89 mix \u6587\u5b57 end",
      "a\u00a0b c", "tab\tin tok\nnl  \u00e9 ").toDF("text")
    for (df <- Seq(edges, docs.select(col("text"))); n <- Seq(1, 2, 3)) {
      val mismatch = df.select(
        Dedup.shingles(col("text"), n).as("k"),
        Dedup.shinglesFold(col("text"), n).as("f"))
        .filter(not(col("k") <=> col("f"))).count()
      assert(mismatch === 0, s"n=$n kernel/fold divergence")
    }
  }

  test("hashed-shingle kernel is bit-identical to xxhash64-of-shingles, sorted distinct") {
    import spark.implicits._
    val edges = Seq("", " ", "a", "a b", "a b c", "a b c d",
      " lead trail ", "x  y   z w", "dup dup dup dup dup",
      // multi-byte UTF-8 (the byte-level tokenizer's risk surface):
      // 2/3/4-byte code points, surrogate-pair emoji, NBSP (not split),
      // tabs/newlines inside tokens (split matches 0x20 only)
      "h\u00e9llo w\u00f6rld d\u00e9j\u00e0 vu",
      "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 \u51e6\u7406",
      "emoji \ud83d\ude00\ud83c\udf89 mix \u6587\u5b57 end",
      "a\u00a0b c", "tab\tin tok\nnl  \u00e9 ").toDF("text")
    for (df <- Seq(edges, docs.select(col("text"))); n <- Seq(1, 2, 3)) {
      val mismatch = df.select(
        Dedup.shingleHashes64(col("text"), n).as("k"),
        sort_array(array_distinct(transform(
          Dedup.shingles(col("text"), n), s => xxhash64(s)))).as("f"))
        .filter(not(col("k") <=> col("f"))).count()
      assert(mismatch === 0, s"n=$n hashed kernel/declarative divergence")
    }
  }

  test("merge Jaccard on hashed arrays equals set Jaccard, incl. empty/empty NULL") {
    import spark.implicits._
    // corpus pairs; the declarative twin throws under ANSI on 0/0 (double
    // div-by-zero), so the empty/empty edge — which production paths never
    // produce: empty-shingle docs have no exploded rows and never enter
    // LSH — is asserted separately as the kernel's NULL (Divide-by-zero
    // semantics: `>= threshold` must DROP the pair, which a NaN — ordered
    // above every number by Spark — would not)
    val sh = docs.limit(25).select(col("text"))
      .union(Seq("tiny", "x y").toDF("text"))
      .select(Dedup.shingleHashes64(col("text"), 3).as("h"))
    val mismatch = sh.select(col("h").as("h_a"))
      .crossJoin(sh.select(col("h").as("h_b")))
      .filter(size(col("h_a")) + size(col("h_b")) > 0)
      .select(Dedup.jaccardHashed(col("h_a"), col("h_b")).as("m"),
        (size(array_intersect(col("h_a"), col("h_b"))).cast("double") /
          size(array_union(col("h_a"), col("h_b"))).cast("double")).as("d"))
      .filter(not(col("m") <=> col("d"))).count()
    assert(mismatch === 0)
    val emptyEmpty = Seq(("a", "b")).toDF("ta", "tb")
      .select(Dedup.jaccardHashed(Dedup.shingleHashes64(col("ta"), 3),
        Dedup.shingleHashes64(col("tb"), 3)).as("j"))
    assert(emptyEmpty.collect()(0).isNullAt(0))
    // and the filter both dedup paths use drops the empty/empty pair
    assert(emptyEmpty.filter(col("j") >= 0.0).count() === 0)
  }

  test("jaccard of identical shingle sets is 1") {
    val sh = docs.limit(5).select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val ones = sh.select(Dedup.jaccard(col("sh"), col("sh")).as("j"))
      .collect().map(_.getDouble(0))
    assert(ones.forall(_ == 1.0))
  }

  // -- vectors / ANN -------------------------------------------------------

  test("cosine of a vector with itself is ~1 on unit embeddings") {
    val c = embs.limit(10)
      .select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(c.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("brute-force top-k returns k rows per query, sorted by cosine") {
    val res = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") < 3), "vec_id",
      "embedding", 5).collect()
    assert(res.length === 15)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("fast kernel top-k is bit-identical to the expression form") {
    val probes = embs.filter(col("vec_id") < 10)
    val expr = Ann.bruteForceTopK(embs, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = Ann.bruteForceTopKFast(embs, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast === expr)
  }

  test("IVF top-k recalls the true neighbors on clustered embeddings") {
    import spark.implicits._
    // 10 planted clusters; IVF adapts its partitions to them, so probing 4
    // of 16 lists must recover nearly all true top-5 neighbors (the random
    // unit-vector fixture is the documented IVF worst case, hence synthetic)
    val rng = new scala.util.Random(3L)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val data = (0L until 500L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(df, probes, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(df, probes, "vec_id", "embedding", k = 5,
      numCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall on clustered data")
    // determinism: same inputs -> identical result set
    val ivf2 = Ann.ivfTopK(df, probes, "vec_id", "embedding", k = 5,
      numCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf2 === ivf)
    // int8-quantized verify: same recall floor on the planted clusters
    // (quantized cosine reorders only near-ties), deterministic
    val int8 = Ann.ivfTopKInt8(df, probes, "vec_id", "embedding", k = 5,
      numCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall8 = exact.intersect(int8).size.toDouble / exact.size
    assert(recall8 >= 0.8, s"int8 IVF recall $recall8 on clustered data")
    val int8Again = Ann.ivfTopKInt8(df, probes, "vec_id", "embedding", k = 5,
      numCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(int8Again === int8)
  }

  test("semDedup catches planted twins and never drops a singleton") {
    import spark.implicits._
    // 10 planted clusters of near-identical points; every 5th id gets a
    // twin (id+1000) with tiny noise → a true cosine≈1 near-dup pair
    val rng = new scala.util.Random(11L)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val base = (0L until 200L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat))
    }
    val twins = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (i + 1000L, v.map(x => (x + 1e-4 * rng.nextGaussian()).toFloat))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val t = 0.95
    val exactPairs = Ann.allPairsCosine(df, "vec_id", "embedding", t)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty)
    // k = the natural cluster count (ids 0–9 seed one center each);
    // OVER-segmenting splits true clusters across centroids and loses
    // their pairs — the paper's documented k tradeoff (recall drops to
    // ~0.6 here at k=16)
    val semPairs = Ann.semDedupPairs(df, "vec_id", "embedding", t,
      numCentroids = 10).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucketed recall on clustered data; every found pair must be real
    assert(semPairs.subsetOf(exactPairs))
    val recall = exactPairs.intersect(semPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"semDedup pair recall $recall")
    // end-to-end: dropped ids ⊆ ids with a true near-dup; min-id reps stay
    val survivors = Ann.semDedup(df, "vec_id", "embedding", t,
      numCentroids = 10).select("vec_id").as[Long].collect().toSet
    val hasNeighbor = exactPairs.flatMap(p => Set(p._1, p._2))
    val dropped = (base ++ twins).map(_._1).toSet -- survivors
    assert(dropped.subsetOf(hasNeighbor))
    assert(dropped.nonEmpty)
    // a doc and its twin never BOTH survive when semDedup found the pair
    semPairs.foreach { case (a, b) =>
      assert(!(survivors(a) && survivors(b)), s"pair ($a,$b) both survived")
    }
  }

  test("resampleFill: gaps carry the prior value, last-in-bucket wins") {
    import spark.implicits._
    import graft.operators.Rolling
    // user 1: obs at t=0 (two in-bucket, later one wins), gap at t=10,
    // fresh obs at t=20; grid step 10
    val df = Seq(
      (1L, 3L, 1.0, 100L), (1L, 7L, 2.0, 101L), // same bucket 0 → 2.0 wins
      (1L, 25L, 9.0, 102L),                     // bucket 20
      (2L, 10L, 5.0, 200L))                     // single-obs key
      .toDF("user_id", "ts", "value", "event_id")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Rolling.resampleFill(df, "user_id", "ts", col("value"),
        "event_id", stepSec = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 0L)) === 2.0)   // later in-bucket observation wins
    assert(got((1L, 10L)) === 2.0)  // gap bucket forward-filled
    assert(got((1L, 20L)) === 9.0)  // fresh observation replaces the fill
    assert(got((2L, 10L)) === 5.0)
    assert(got.size === 4)          // spine spans first..last bucket only
    // lerp sibling: the gap bucket midway between 2.0@0 and 9.0@20 → 5.5
    val li = Rolling.resampleInterp(df, "user_id", "ts", col("value"),
        "event_id", stepSec = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(li((1L, 10L)) === 5.5)
    assert(li((1L, 0L)) === 2.0 && li((1L, 20L)) === 9.0) // obs pass through
  }

  test("LSH top-k recall vs brute force is usable") {
    val queries = embs.filter(col("vec_id") < 10)
    val bf = Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(embs, queries, "vec_id", "embedding", 5,
      bitsPerTable = 6, numTables = 16, probeRadius = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.7, s"LSH recall $recall collapsed — buckets broken?")
  }

  test("embedding near-dup LSH recall vs exact all-pairs at cosine >= 0.4") {
    val exact = Ann.allPairsCosine(embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.cosineNearDupPairs(embs, "vec_id", "embedding", 0.4,
      bitsPerTable = 6, numTables = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified pairs must be true pairs")
    // cos 0.4 is the near-orthogonal worst case: sign-LSH per-bit agreement
    // is only 0.63, so 6 bits x 16 tables predicts ~0.65 recall (it exceeds
    // 0.99 at a true near-dup threshold of 0.8)
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.4,
      s"recall ${lsh.size}/${exact.size} collapsed")
  }

  // -- text ----------------------------------------------------------------

  test("token counts and quality are sane") {
    val r = TextAnalysis.profile(docs).select("n_tokens", "quality").collect()
    assert(r.forall(_.getInt(0) > 0))
    assert(r.forall(x => x.getDouble(1) >= 0.0 && x.getDouble(1) <= 1.0))
  }

  test("fingerprint ignores case and extra whitespace") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", "different").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("native fingerprint is bit-identical to the declarative fold (ASCII, CJK, edge)") {
    import spark.implicits._
    val df = (Seq("Hello  World", "", " ", "mixed 中文 text", "exact",
      "tabs\tand\nnewlines collapse") ++ docs.limit(20).collect().map(_.getAs[String]("text")))
      .toDF("text")
    val both = df.select(TextAnalysis.fingerprint(col("text")).as("fast"),
      TextAnalysis.fingerprintFold(col("text")).as("fold")).collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1), r))
  }

  test("langId returns a known code for every doc") {
    val langs = docs.select(TextAnalysis.langId(col("text"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "zh", "und")))
  }
}
