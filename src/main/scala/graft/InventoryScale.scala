package graft

import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps
import graft.operators.{Ann, Dedup, Mixing, Multimodal, QualityModel}

/** Round-5 widening: the production-shape paths the round-4 surface
  * promised in scaladoc — trained-weight quality scoring (explicit weight
  * table through a broadcast join), group-budgeted priority sampling
  * routed through the CLI planner, and int8-quantized IVF verify (the
  * IVF-PQ direction). Oracle discipline as everywhere else: deterministic
  * designs hash-gate exactly; sketch/sampled results are bound-gated
  * in-query against exact in-engine twins (the q29/q39/q46 pattern).
  */
object InventoryScale {
  import graft.OracleSnippets._
  import graft.Tables._

  /** The planted near-dup bit mask shared by every media fixture
    * (q197–q206): flips exactly 1 + (id % 5) KNOWN bits at positions
    * (7·id + 13·j) mod 64, pairwise distinct for j < 5 — so each
    * oracle can state the integer Hamming distance as 1 + id % 5.
    * ONE definition: the oracles depend on popcount(mask) = 1 + id % 5,
    * and a drifted copy would silently break a gate. */
  private def plantMask(id: Long): Long = {
    var mask = 0L
    (0 until (1 + (id % 5)).toInt)
      .foreach(j => mask |= 1L << ((id * 7 + j * 13) % 64).toInt)
    mask
  }

  /** DuckDB replay of [[graft.exec.AdaptiveExecutor.runGroupedDeterministic]]
    * in "sum" mode over lineitem's row key: steps 20 ⊃ 10 ⊃ 5, threshold
    * 2%, 95% confidence, exact route below 250 rows, grouped by the SQL
    * expression `gx`. Per group it replays the moments, the first
    * converged round, CI bounds, cumulative n_used and the verdict
    * bit-for-bit; columns as the operator names them. */
  private def sumLadderOracle(gx: String): String = {
    val k = lineitemKey.sql
    val xc = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"""WITH base AS (SELECT $gx AS g, $k AS k, $xc AS xc FROM lineitem),
m AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS nn,
 CAST(SUM(CAST(xc AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS exact_s,
 CAST(COUNT(CASE WHEN k % 20 = 0 THEN xc END) AS DOUBLE) AS n1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c1,
 CAST(COUNT(CASE WHEN k % 10 = 0 THEN xc END) AS DOUBLE) AS n2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c2,
 CAST(COUNT(CASE WHEN k % 5 = 0 THEN xc END) AS DOUBLE) AS n3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c3
 FROM base GROUP BY g),
r AS (SELECT g, nn, exact_s, n1, n2, n3,
 CASE WHEN n1 > 0 THEN sc1 * (nn / n1) / 100.0 ELSE 0.0 END AS est1,
 CASE WHEN n1 > 1 THEN 1.96 * sqrt(((s2c1 - sc1 * sc1 / n1) / (n1 - 1)) / n1) * nn / 100.0 ELSE 1e18 END AS mar1,
 CASE WHEN n2 > 0 THEN sc2 * (nn / n2) / 100.0 ELSE 0.0 END AS est2,
 CASE WHEN n2 > 1 THEN 1.96 * sqrt(((s2c2 - sc2 * sc2 / n2) / (n2 - 1)) / n2) * nn / 100.0 ELSE 1e18 END AS mar2,
 CASE WHEN n3 > 0 THEN sc3 * (nn / n3) / 100.0 ELSE 0.0 END AS est3,
 CASE WHEN n3 > 1 THEN 1.96 * sqrt(((s2c3 - sc3 * sc3 / n3) / (n3 - 1)) / n3) * nn / 100.0 ELSE 1e18 END AS mar3
 FROM m),
rr AS (SELECT *,
 CASE WHEN est1 <> 0.0 AND mar1 < 1e18 THEN 100.0 * (((est1 + mar1) - (est1 - mar1)) / 2.0) / abs(est1) ELSE 1e18 END AS rel1,
 CASE WHEN est2 <> 0.0 AND mar2 < 1e18 THEN 100.0 * (((est2 + mar2) - (est2 - mar2)) / 2.0) / abs(est2) ELSE 1e18 END AS rel2,
 CASE WHEN est3 <> 0.0 AND mar3 < 1e18 THEN 100.0 * (((est3 + mar3) - (est3 - mar3)) / 2.0) / abs(est3) ELSE 1e18 END AS rel3
 FROM r),
sel AS (SELECT *, CASE WHEN rel1 <= 2.0 AND n1 >= 50 THEN 1 WHEN rel2 <= 2.0 AND n2 >= 50 THEN 2 ELSE 3 END AS ru FROM rr)
SELECT g AS "group", CAST(nn AS BIGINT) AS n_rows,
 CASE WHEN nn < 250 THEN exact_s ELSE CASE ru WHEN 1 THEN est1 WHEN 2 THEN est2 ELSE est3 END END AS sum_est,
 CASE WHEN nn < 250 THEN exact_s ELSE CASE ru WHEN 1 THEN est1 - mar1 WHEN 2 THEN est2 - mar2 ELSE est3 - mar3 END END AS ci_lower,
 CASE WHEN nn < 250 THEN exact_s ELSE CASE ru WHEN 1 THEN est1 + mar1 WHEN 2 THEN est2 + mar2 ELSE est3 + mar3 END END AS ci_upper,
 CAST(CASE WHEN nn < 250 THEN nn ELSE CASE ru WHEN 1 THEN n1 WHEN 2 THEN n1 + n2 ELSE n1 + n2 + n3 END END AS BIGINT) AS n_used,
 CAST(CASE WHEN nn < 250 THEN 0 ELSE ru END AS INTEGER) AS rounds_used,
 CASE WHEN nn < 250 THEN 'Exact'
  WHEN (CASE ru WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) < 50 THEN 'InsufficientData'
  WHEN ru = 2 AND ((est1 + mar1 < est2 - mar2) OR (est2 + mar2 < est1 - mar1)) AND est1 <> 0.0 AND abs(est2 - est1) / abs(est1) * 100.0 > 5.0 THEN 'Drifting'
  WHEN ru = 3 AND ((est2 + mar2 < est3 - mar3) OR (est3 + mar3 < est2 - mar2)) AND est2 <> 0.0 AND abs(est3 - est2) / abs(est2) * 100.0 > 5.0 THEN 'Drifting'
  WHEN (CASE ru WHEN 1 THEN rel1 WHEN 2 THEN rel2 ELSE rel3 END) <= 2.0 THEN 'Stable'
  ELSE 'Drifting' END AS status
FROM sel ORDER BY g"""
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("q197_image_neardup_dhash",
      // MULTIMODAL near-dup (round-9 verdict item 6): perceptual dHash
      // over REAL BMP bytes + Hamming-banded pair generation — the image
      // leg of the dedup family, reusing the SimHash band algebra
      // (Dedup.hammingBandedPairs, 8 bands ⇒ complete for hamming ≤ 7 by
      // pigeonhole). Fixture: one 72×64 BMP per document whose dHash is
      // EXACTLY mix64(doc_id) (Multimodal.bmpWithDhash — uniform 8×8
      // cells on a ±8 brightness walk), plus, for every doc_id % 10 == 0,
      // a near-identical copy at id + 10⁶ whose hash flips exactly
      // 1 + (doc_id % 5) KNOWN bits (positions (7·id + 13·j) mod 64,
      // pairwise distinct for j < 5). The engine path runs the full
      // byte-level pipeline — encode → RIFF-style header walk → pixel
      // decode → 9×8 box-pool → integer dHash → band bucket-join →
      // bit_count verify — while the planted pairs AND their integer
      // Hamming distances are pure id arithmetic the oracle states
      // directly; any spurious pair (two mix64 outputs within Hamming 6,
      // P ≈ 10⁻⁵ over the fixture, fixed data) would fail the hash gate.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val h = Multimodal.mix64(id)
            val base = (id, Multimodal.bmpWithDhash(h))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              Seq(base, (id + Offset, Multimodal.bmpWithDhash(h ^ mask)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        val hashes = Multimodal.bmpDhash(media, "media_id", "bytes")
        Dedup.hammingBandedPairs(hashes, "media_id", "dhash",
            maxHamming = 6, bands = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(1 + doc_id % 5 AS BIGINT) AS hamming
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q200_multimodal_dedup_recipe",
      // CROSS-MODALITY dedup recipe: a document is a duplicate if its
      // TEXT near-dups another (q35's MinHash-LSH pairs over the real
      // fixture texts), OR its IMAGE perceptually matches (q197's dHash
      // band algebra), OR its AUDIO fingerprint matches (q198) — the
      // three edge sets union into ONE graph, one component collapse
      // picks min-id representatives across modalities (a text-unique
      // doc can still drop because its image duplicates another doc's).
      // Media are construct-to-target per doc id; planted cross-doc
      // copies: image of id % 9 == 0 near-matches doc id−1's, audio of
      // id % 7 == 0 near-matches doc id−2's — so components freely mix
      // text chains with media bridges. The DuckDB oracle chains the
      // q35 blocked-Jaccard pair CTEs with the arithmetic media pair
      // sets and the q45 recursive-reach collapse; per-modality pair
      // counts ride every row, so a spurious hash fluke OR a missed
      // planted pair in ANY modality fails the hash.
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        // each modality's pair frame is materialized ONCE (eager local
        // checkpoint): the per-modality count AND the union both consume
        // it, and without the checkpoint the union recomputed every
        // decode+hash pass a second time (round-10 verdict item 7) — the
        // recipe is the pattern users copy, so it models the right one.
        // Pair sets are output-sized (bounded by real duplication), not
        // corpus-sized — cheap to pin.
        val textPairs = graft.operators.Dedup.nearDupPairs(docs, "doc_id",
            "text", threshold = 0.8, shingleN = 3, numHashes = 64,
            bands = 16)
          .select(col("id_a"), col("id_b")).staged
        val images = docs.select(col("doc_id")).as[Long].map { id =>
          val h =
            if (id % 9 == 0 && id > 0)
              Multimodal.mix64((id - 1) * 3 + 1) ^ plantMask(id)
            else Multimodal.mix64(id * 3 + 1)
          (id, Multimodal.bmpWithDhash(h))
        }.toDF("media_id", "bytes")
        val imgPairs = Dedup.hammingBandedPairs(
            Multimodal.bmpDhash(images), "media_id", "dhash",
            maxHamming = 6, bands = 8)
          .select(col("id_a"), col("id_b")).staged
        val audio = docs.select(col("doc_id")).as[Long].map { id =>
          val h =
            if (id % 7 == 0 && id > 1)
              Multimodal.mix64((id - 2) * 5 + 2) ^ plantMask(id)
            else Multimodal.mix64(id * 5 + 2)
          (id, Multimodal.wavWithFingerprint(h))
        }.toDF("media_id", "bytes")
        val audPairs = Dedup.hammingBandedPairs(
            Multimodal.wavFingerprint(audio), "media_id", "afp",
            maxHamming = 6, bands = 8)
          .select(col("id_a"), col("id_b")).staged
        val nText = textPairs.count()
        val nImg = imgPairs.count()
        val nAud = audPairs.count()
        val losers = Dedup.dupClusters(
            textPairs.union(imgPairs).union(audPairs))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        docs.select(col("doc_id")).join(losers, Seq("doc_id"), "left_anti")
          .withColumn("n_text_pairs", lit(nText))
          .withColumn("n_image_pairs", lit(nImg))
          .withColumn("n_audio_pairs", lit(nAud))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $blockedJaccardCtes, tpairs AS MATERIALIZED (SELECT id_a, id_b FROM pr WHERE $blockedJaccardExpr >= 0.8), ipairs AS MATERIALIZED (SELECT doc_id - 1 AS id_a, doc_id AS id_b FROM documents WHERE doc_id % 9 = 0 AND doc_id > 0), apairs AS MATERIALIZED (SELECT doc_id - 2 AS id_a, doc_id AS id_b FROM documents WHERE doc_id % 7 = 0 AND doc_id > 1), allp AS MATERIALIZED (SELECT id_a, id_b FROM tpairs UNION SELECT id_a, id_b FROM ipairs UNION SELECT id_a, id_b FROM apairs), edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM allp UNION SELECT id_b, id_a FROM allp), reach(id, r) AS (SELECT src, src FROM edges UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id), losers AS (SELECT id FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id) WHERE cluster < id) SELECT d.doc_id, (SELECT COUNT(*) FROM tpairs) AS n_text_pairs, (SELECT COUNT(*) FROM ipairs) AS n_image_pairs, (SELECT COUNT(*) FROM apairs) AS n_audio_pairs FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM losers) ORDER BY d.doc_id""")),

    QueryDef("q199_video_neardup_frames",
      // VIDEO near-dup — the third modality: real AVI (RIFF) container
      // decode (uncompressed 24bpp DIB '00db' frames — the same chunk
      // grammar as the WAV walker, the same pixel grid as the BMP
      // decoder), per-frame dHash, ONE banded-Hamming pass over the
      // packed (video, frame) key space, aligned-slot filter, per-pair
      // matched-frame rollup with a ≥ minCloseFrames gate. Fixture:
      // 4-frame clips whose frame hashes are pure id arithmetic
      // (dibFrameWithDhash); copies at id + 10⁶ for doc_id % 10 == 0
      // REPLACE one frame with an unrelated image (no match), FLIP
      // 1 + (id % 5) known bits in another (matches within hamming 6),
      // keep two exact — so every planted pair matches on EXACTLY 3 of
      // 4 frames. Single-frame flukes (the q197/q198 spurious class)
      // cannot fake a pair here: the ≥ 3 rollup floor filters them.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            def fh(f: Int): Long =
              Multimodal.mix64(id * 131 + f * 7919 + 99L)
            def avi(hs: Seq[Long]): Array[Byte] = Multimodal.aviBytes(
              72, 64, hs.map(Multimodal.dibFrameWithDhash))
            val base = (id, avi((0 until 4).map(fh)))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              val drop = (id % 4).toInt
              val flip = ((id + 1) % 4).toInt
              val copyHs = (0 until 4).map { f =>
                if (f == drop) Multimodal.mix64(id * 977 + f + 7L)
                else if (f == flip) fh(f) ^ mask
                else fh(f)
              }
              Seq(base, (id + Offset, avi(copyHs)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        Multimodal.videoNearDupPairs(media, "media_id", "bytes",
            maxHamming = 6, minCloseFrames = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(3 AS BIGINT) AS n_close_frames
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q201_image_neardup_codec",
      // CODEC-format image near-dup (round-10 verdict item 5): the q197
      // pipeline over REAL JPEG and PNG bytes decoded with javax.imageio
      // (java.desktop ships in every JDK, headless-safe) — the "stub for
      // codec-bound modalities" caveat retired for images. Fixture: the
      // same construct-to-target 72×64 image as q197, ImageIO-ENCODED —
      // PNG for even ids, JPEG for odd (one mixed-format corpus, one
      // dHash column) — with near-identical copies at id + 10⁶ in the
      // OPPOSITE format for doc_id % 10 == 0 (a JPEG re-encode of a PNG
      // is exactly the real-world duplicate class this catches). The
      // construct survives JPEG's lossy round-trip EXACTLY because its
      // 8×8 cells are MCU-aligned uniform blocks: only the DC
      // coefficient carries, and DC quantization preserves the strict
      // ±8 adjacent-cell ordering (MultimodalSpec pins the bit-exact
      // round-trip for both formats). Oracle: planted pairs and integer
      // Hamming distances as pure id arithmetic, the q197 gate.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            // decorrelated from q197/q198/q200 fixture hash streams
            val h = Multimodal.mix64(id ^ 0xC0DECL)
            def fmt(i: Long): String = if (i % 2 == 0) "png" else "jpg"
            val base = (id, Multimodal.imageWithDhash(h, fmt(id)))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              Seq(base,
                (id + Offset, Multimodal.imageWithDhash(h ^ mask, fmt(id + 1))))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        val hashes = Multimodal.imageDhash(media, "media_id", "bytes")
        Dedup.hammingBandedPairs(hashes, "media_id", "dhash",
            maxHamming = 6, bands = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(1 + doc_id % 5 AS BIGINT) AS hamming
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q203_image_resize_pipeline",
      // REAL image resize (round-11: the byte-level op resizePlan only
      // planned): ImageIO decode → integer box-average downscale →
      // lossless PNG re-encode, partition-parallel. Gated END-TO-END on
      // a pixel-level invariant: box-average downscale of block-uniform
      // constructs preserves dHash EXACTLY (each 2×2 source box lands
      // inside one uniform 8×8 cell — 2 divides 8 — so every resized
      // pixel is its cell's exact value and the 9×8 pooling reproduces
      // the same comparisons), so the planted q201-style pairs must
      // survive a 72×64 → 36×32 resize bit-for-bit, and every resized
      // row must carry the floor-formula dims. A resampling-kernel bug,
      // an off-by-one in the box banding, or a lossy re-encode would
      // scramble hashes and fail the gate; the oracle states pairs,
      // Hamming distances, and both counts as pure id arithmetic.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            // decorrelated from the q197/q198/q200/q201 hash streams
            val h = Multimodal.mix64(id ^ 0x2E5123L)
            val base = (id, Multimodal.imageWithDhash(h, "png"))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              Seq(base, (id + Offset, Multimodal.imageWithDhash(h ^ mask, "png")))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        // checkpointed: the dims gate and the dHash path both consume
        // it — one decode+resize per image (the q200 pattern)
        val resized = Multimodal.resizeImages(media, "media_id", "bytes",
          maxSide = 36).staged
        val nResized = resized.count()
        val nDimsOk = resized
          .filter(col("width") === 36 && col("height") === 32).count()
        Dedup.hammingBandedPairs(Multimodal.imageDhash(resized),
            "media_id", "dhash", maxHamming = 6, bands = 8)
          .withColumn("n_resized", lit(nResized))
          .withColumn("n_dims_ok", lit(nDimsOk))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(1 + doc_id % 5 AS BIGINT) AS hamming,
 (SELECT COUNT(*) + COUNT(*) FILTER (WHERE doc_id % 10 = 0) FROM documents) AS n_resized,
 (SELECT COUNT(*) + COUNT(*) FILTER (WHERE doc_id % 10 = 0) FROM documents) AS n_dims_ok
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q204_image_meta_sweep",
      // HEADER-ONLY metadata sweep over a mixed PNG/JPEG corpus
      // (round-11): decodeImageMeta pulls format + dimensions from the
      // ImageIO READER's header parse — no pixel decode — which is the
      // only affordable first pass over a 100 TB image corpus (header
      // bytes per blob, not decode CPU). Fixture dims and formats are
      // pure doc_id arithmetic (the syntheticBmp trick, codec edition),
      // so the rollup — per-format counts, total pixels, dim extremes —
      // hash-gates the real header walk of real PNG/JPEG bytes against
      // an oracle that never touches an image.
      (s, d) => {
        import s.implicits._
        val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
          val w = 16 + (id % 7).toInt * 8
          val h = 9 + (id % 5).toInt * 6
          (id, Multimodal.encodedImage(w, h, if (id % 2 == 0) "png" else "jpg"))
        }.toDF("media_id", "bytes")
        Multimodal.decodeImageMeta(media)
          .groupBy(col("format"))
          .agg(count(lit(1)).as("n_images"),
            sum(col("n_pixels")).as("sum_pixels"),
            min(col("width")).as("min_w"),
            max(col("height")).as("max_h"))
          .orderBy(col("format"))
      },
      Some("""WITH dims AS (SELECT doc_id,
 16 + (doc_id % 7) * 8 AS w, 9 + (doc_id % 5) * 6 AS h,
 CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
 FROM documents)
 SELECT format, COUNT(*) AS n_images,
 CAST(SUM(w * h) AS BIGINT) AS sum_pixels,
 CAST(MIN(w) AS INTEGER) AS min_w, CAST(MAX(h) AS INTEGER) AS max_h
 FROM dims GROUP BY 1 ORDER BY 1""")),

    QueryDef("q202_video_neardup_shifted",
      // ALIGNMENT-FREE video near-dup (round-10 verdict item 3): the
      // most common real video edit is a trim/shift, which q199's
      // aligned-slot comparison misses BY CONSTRUCTION — this is the
      // matching mode that catches it. Same single banded pass and star
      // cap, but bucketed on hash chunks alone (no frame slot), rolled
      // up on DISTINCT matched frames per side with a min() gate so
      // static-scene padding cannot fake a pair. Fixture: 4-frame clips
      // with pure-arithmetic frame hashes; for doc_id % 10 == 0 a
      // SHIFTED copy at id + 10⁶ — drop the last frame, prepend an
      // unrelated one, flip 1 + (id % 5) known bits in one of the three
      // carried frames — so every planted pair matches on exactly 3
      // distinct frames per side at shifted positions (recall 1.0 on
      // the planted set, where the aligned mode scores recall 0 —
      // MultimodalSpec pins that contrast on the same fixture shape).
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            def fh(f: Int): Long =
              Multimodal.mix64(id * 131 + f * 7919 + 202L)
            def avi(hs: Seq[Long]): Array[Byte] = Multimodal.aviBytes(
              72, 64, hs.map(Multimodal.dibFrameWithDhash))
            val base = (id, avi((0 until 4).map(fh)))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              // one-slot shift: [junk, f0, f1^mask, f2] vs [f0, f1, f2, f3]
              val copyHs = Seq(Multimodal.mix64(id * 977 + 11L),
                fh(0), fh(1) ^ mask, fh(2))
              Seq(base, (id + Offset, avi(copyHs)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        Multimodal.videoNearDupPairsShifted(media, "media_id", "bytes",
            maxHamming = 6, minCloseFrames = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(3 AS BIGINT) AS n_close_frames
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q198_audio_neardup_fingerprint",
      // AUDIO near-dup — the WAV twin of q197: 64-bit energy-difference
      // fingerprint (Haitsma–Kalker direction: adjacent-window energy
      // comparisons) over REAL PCM-16 decode, banded through the same
      // Dedup.hammingBandedPairs pigeonhole. Fixture mirrors q197's
      // construct-to-target trick in the audio domain: one 65×64-sample
      // mono WAV per document whose fingerprint is EXACTLY
      // mix64(doc_id ⊕ GOLDEN) (amplitude walk — q197 uses brightness),
      // plus near-identical copies at id + 10⁶ flipping exactly
      // 1 + (doc_id % 5) known bits for doc_id % 10 == 0. The engine
      // runs RIFF walk → PCM decode → window energies → hash → band →
      // bit_count verify on spec-valid audio bytes; the oracle states
      // the planted pairs and their integer Hamming distances as pure
      // id arithmetic.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            // decorrelated from q197's image hashes (different mix input)
            val h = Multimodal.mix64(id ^ 0x5DEECE66DL)
            val base = (id, Multimodal.wavWithFingerprint(h))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              Seq(base, (id + Offset, Multimodal.wavWithFingerprint(h ^ mask)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        val prints = Multimodal.wavFingerprint(media, "media_id", "bytes")
        Dedup.hammingBandedPairs(prints, "media_id", "afp",
            maxHamming = 6, bands = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(1 + doc_id % 5 AS BIGINT) AS hamming
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q205_audio_neardup_shifted",
      // ALIGNMENT-FREE audio near-dup (round-11 verdict item 2): the
      // commonest audio edit is a trim/prepend, which q198's whole-clip
      // fingerprint misses BY CONSTRUCTION (all 65 window boundaries
      // shift) — this is the q202 recipe transferred to audio: per-window
      // LOCAL fingerprints (Multimodal.wavWindowFingerprints), ONE banded
      // pass bucketed on hash chunks alone (any window of A may match any
      // window of B), and the least(countDistinct) two-sided rollup so
      // looped/static padding cannot fake a pair. Fixture: 4-window clips
      // (65·64 samples per window) whose window fingerprints are pure id
      // arithmetic; for doc_id % 10 == 0 a SHIFTED copy at id + 10⁶ —
      // drop the last window, prepend an unrelated one, flip 1 + (id % 5)
      // known bits in one carried window — so every planted pair matches
      // on exactly 3 distinct windows per side at SHIFTED positions
      // (recall 1.0 on the planted set, where the aligned q198 mode
      // scores 0 — MultimodalSpec pins that contrast on this fixture
      // shape).
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            def wh(wdx: Int): Long =
              Multimodal.mix64(id * 131 + wdx * 7919 + 205L)
            val base = (id,
              Multimodal.wavWithWindowFingerprints((0 until 4).map(wh)))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              // one-window shift: [junk, w0, w1^mask, w2] vs [w0..w3]
              val copyWs = Seq(Multimodal.mix64(id * 977 + 17L),
                wh(0), wh(1) ^ mask, wh(2))
              Seq(base,
                (id + Offset, Multimodal.wavWithWindowFingerprints(copyWs)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        Multimodal.audioNearDupPairsShifted(media, "media_id", "bytes",
            maxHamming = 6, minCloseWindows = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(3 AS BIGINT) AS n_close_windows
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q206_video_neardup_mjpeg",
      // MOTION-JPEG video near-dup (round-11 verdict item 3): the "video
      // codecs have no JDK decoder" caveat was one codec too broad — an
      // MJPEG AVI's '00dc' chunks are plain JPEG images, which the same
      // header-gated ImageIO path already decodes, so parseAviGray routes
      // 'MJPG'-compression streams through it and a CODEC video format
      // now runs the full q199 recipe on real compressed frame bytes.
      // Fixture: 4-frame MJPEG clips of the MCU-aligned 72×64 construct
      // (imageWithDhash "jpg" — survives JPEG's lossy round-trip
      // bit-exactly, the q201 argument); copies at id + 10⁶ for
      // doc_id % 10 == 0 replace one frame with an unrelated image (no
      // match), flip 1 + (id % 5) known bits in another, keep two exact —
      // every planted pair matches on exactly 3 of 4 aligned frames.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            def fh(f: Int): Long =
              Multimodal.mix64(id * 131 + f * 7919 + 206L)
            def avi(hs: Seq[Long]): Array[Byte] = Multimodal.aviMjpegBytes(
              72, 64, hs.map(h => Multimodal.imageWithDhash(h, "jpg")))
            val base = (id, avi((0 until 4).map(fh)))
            if (id % 10 == 0) {
              val mask = plantMask(id)
              val drop = (id % 4).toInt
              val flip = ((id + 1) % 4).toInt
              val copyHs = (0 until 4).map { f =>
                if (f == drop) Multimodal.mix64(id * 977 + f + 23L)
                else if (f == flip) fh(f) ^ mask
                else fh(f)
              }
              Seq(base, (id + Offset, avi(copyHs)))
            } else Seq(base)
          }.toDF("media_id", "bytes")
        Multimodal.videoNearDupPairs(media, "media_id", "bytes",
            maxHamming = 6, minCloseFrames = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(3 AS BIGINT) AS n_close_frames
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q207_audio_neardup_trimmed",
      // ARBITRARY-OFFSET audio trims (round-12 verdict item 3): q205
      // catches trims that are WINDOW multiples, but the commonest real
      // edit — trim a little off the front — is window-non-multiple far
      // more often than not, shifts within-window content, and degrades
      // q205 to the Hamming tolerance (its scaladoc's own acknowledged
      // gap). The scaladoc's remedy, now implemented: OVERLAPPING window
      // fingerprints (stride = windowSamples/2) feed the SAME
      // shiftedSlotNearDupPairs operator, so any HALF-window-multiple
      // trim aligns exactly while q205's non-overlapping mode scores
      // recall 0 on it (MultimodalSpec pins the contrast on this fixture
      // shape). Fixture: 4-window clips (window = 65·64 = 4160 samples);
      // for doc_id % 10 == 0 a copy at id + 10⁶ trimmed by HALF a window
      // (2080 samples — not a window multiple). Overlapped, the base
      // carries 7 windows (offsets 0, W/2, …, 3W), the trimmed copy 6
      // (base offsets W/2 … 3W), every copy window content-identical to
      // its aligned base window — so each planted pair matches on
      // exactly least(6, 7) = 6 distinct windows per side, pure
      // structural arithmetic for the oracle. Same banded pass, star
      // cap, and two-sided distinct rollup as q205 at 2× fingerprint
      // rows.
      (s, d) => {
        import s.implicits._
        val Offset = 1000000L
        val W = 65 * 64
        val media = documents(s, d).select(col("doc_id")).as[Long]
          .flatMap { id =>
            def wh(wdx: Int): Long =
              Multimodal.mix64(id * 131 + wdx * 7919 + 207L)
            val baseBytes =
              Multimodal.wavWithWindowFingerprints((0 until 4).map(wh))
            val base = (id, baseBytes)
            if (id % 10 == 0)
              Seq(base, (id + Offset, Multimodal.wavTrimmed(baseBytes, W / 2)))
            else Seq(base)
          }.toDF("media_id", "bytes")
        Multimodal.audioNearDupPairsShifted(media, "media_id", "bytes",
            maxHamming = 6, minCloseWindows = 3, strideSamples = W / 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
 CAST(6 AS BIGINT) AS n_close_windows
 FROM documents WHERE doc_id % 10 = 0 ORDER BY 1, 2""")),

    QueryDef("q166_priority_sample_ci",
      // q152's fixed-size weighted sample with the design's OWN error bar:
      // the Duffield–Lund–Thorup variance estimator Σ max(w,τ)·max(τ−w,0)
      // (items have zero covariance under priority sampling — DLT JACM'07
      // Thm 1 — so per-item variances add). Fully deterministic like
      // q152, so the whole interval is hash-gated: DuckDB replays the
      // sample selection, both decimal-summed terms, and the closed-form
      // z·sqrt expression bit-for-bit.
      (s, d) => {
        val top = graft.exec.Sampling.prioritySample(
          lineitem(s, d), lineitemKey.column, col("l_extendedprice"), k = 500)
        graft.exec.Sampling.prioritySumEstimateCi(top, k = 500)
      },
      Some(s"""WITH p AS (SELECT ${lineitemKey.sql} AS key, CAST(l_extendedprice AS DOUBLE) AS w FROM lineitem), q AS (SELECT key, w, w * 1000003.0 / (((key % 1000003) * 1299709 + 104729) % 1000003 + 1) AS prio FROM p), r AS (SELECT key, w, prio, ROW_NUMBER() OVER (ORDER BY prio DESC, key ASC) AS rn FROM q QUALIFY rn <= 501), tau AS (SELECT CASE WHEN COUNT(*) = 501 THEN MIN(prio) ELSE 0.0 END AS tau FROM r), est AS (SELECT CAST(SUM(CAST(ROUND(GREATEST(w, tau), 4) AS DECIMAL(28,4))) AS DOUBLE) AS sum_est, CAST(SUM(CAST(ROUND(GREATEST(w, tau) * GREATEST(tau - w, 0.0), 4) AS DECIMAL(38,4))) AS DOUBLE) AS var_est, COUNT(*) AS n_used FROM r CROSS JOIN tau WHERE rn <= 500) SELECT sum_est, sum_est - 1.96 * SQRT(var_est) AS ci_lower, sum_est + 1.96 * SQRT(var_est) AS ci_upper, n_used FROM est""")),

    QueryDef("q163_quality_model_trained",
      // TRAINED-WEIGHT quality filtering, production shape: the weight
      // table is an explicit (bucket, weight_cents) DataFrame — here the
      // deterministic table materialized via defaultWeightTable, in
      // production the trained coefficients — scored by
      // QualityModel.marginCentsJoined: scan-stage token explode,
      // BROADCAST hash join on the bucket id (the token stream never
      // shuffles), one map-side-combined rollup keyed on the doc id.
      // Same margins as the plan-baked q153 kernel (FrontierSpec pins the
      // per-doc identity); the oracle replays the join shape itself.
      (s, d) => QualityModel.marginCentsJoined(documents(s, d), "doc_id",
          "text", QualityModel.defaultWeightTable(s), keep = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("margin_cents") > 0, lit(1L)).otherwise(lit(0L)))
            .as("n_kept"),
          sum(col("margin_cents")).as("margin_cents_total"))
        .orderBy(col("source")),
      Some(s"""WITH wt AS (SELECT CAST(i AS INTEGER) AS bucket, CAST((i * 127 + 17) % 101 - 50 AS BIGINT) AS w FROM range(${QualityModel.Buckets}) t(i)), tok AS MATERIALIZED (SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok FROM documents), b AS MATERIALIZED (SELECT doc_id, source, CAST((length(tok) * 31 + unicode(tok)) % ${QualityModel.Buckets} AS INTEGER) AS bucket FROM tok), m AS (SELECT doc_id, SUM(wt.w) AS mc FROM b LEFT JOIN wt USING (bucket) GROUP BY 1) SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(CASE WHEN COALESCE(m.mc, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, CAST(SUM(COALESCE(m.mc, 0)) AS BIGINT) AS margin_cents_total FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id GROUP BY 1 ORDER BY 1""")),

    QueryDef("q164_grouped_priority_cli",
      // --method priority WITH GROUP BY through the real CLI executor
      // path (SpecExecutor → Skew.priorityPerKey): the fixed k becomes a
      // per-group budget, every group gets its own threshold τ_g. The CLI
      // strides over lineitem's declared row key, so the DuckDB oracle
      // replays q159's per-group priority text at k = 500 and hash-gates
      // every group's estimate and sample size.
      (s, d) => {
        Tables.registerAll(s, d)
        val spec = graft.parser.QueryParser.parse(
          "SELECT SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag")
          .copy(sampling = graft.model.SamplingStrategy.Priority(500))
        graft.exec.SpecExecutor.run(s, spec)
      },
      Some(priorityByReturnFlag(500, "sum_l_extendedprice",
        "sum_l_extendedprice_n"))),

    QueryDef("q167_ann_ivf_index_search",
      // PERSISTED IVF index, searched with directory-level partition
      // pruning (Ann.buildIvfIndex → corpus partitioned by learned cid;
      // searchIvfIndex filters the scan to the probed lists, so unprobed
      // lists never open a footer). ORACLE-GATED like q46: recall ≥ 0.75
      // vs exact brute force, plus the pruning fact itself (probed lists
      // strictly fewer than materialized lists). AnnIndexSpec pins
      // search ≡ ivfTopK bit-for-bit given the same centroids.
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q167_index_$sfTag")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", path,
          numCentroids = 32)
        val res = Ann.searchIvfIndex(s, path, probes, "vec_id", "embedding",
          k = 5, nProbe = 8)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val nTrue = bf.count()
        val nFound = bf.join(res.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val listsTotal = Ann.readIndexCorpus(s, path)
          .select(col("cid")).distinct().count()
        val listsProbed = Ann.probedCidCount(s, path, probes, "vec_id",
          "embedding", nProbe = 8)
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nFound.toDouble >= 0.75 * nTrue.toDouble).as("recall_ge_075"),
          lit(listsProbed < listsTotal).as("scan_pruned"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS recall_ge_075, TRUE AS scan_pruned FROM embeddings WHERE vec_id < 10")),

    QueryDef("q169_ann_ivf_index_append",
      // INCREMENTAL index refresh (Ann.appendToIvfIndex): build on the
      // even-id half, append the odd-id half against the saved centroids
      // (no retraining — the crawl-drop serving shape), search the
      // combined index. Gated on recall ≥ 0.75 vs brute force over the
      // FULL corpus plus completeness (all rows present) — statements
      // the oracle makes exactly. nProbe 16 of 32 (still 2× pruned):
      // half-training on the uniform-random fixture is IVF's documented
      // worst case — GateProbe measured 0.84/0.84/0.92 at
      // sf0.001/0.01/0.1 (0.68–0.82 at nProbe 8, too close to the floor).
      (s, d) => {
        val emb = embeddings(s, d)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q169_index_$sfTag")
        Ann.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
          "vec_id", "embedding", path, numCentroids = 32)
        Ann.appendToIvfIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
          "vec_id", "embedding", path)
        val probes = emb.filter(col("vec_id") < 10)
        val res = Ann.searchIvfIndex(s, path, probes, "vec_id", "embedding",
          k = 5, nProbe = 16)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val nTrue = bf.count()
        val nFound = bf.join(res.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val nIndexed = Ann.readIndexCorpus(s, path).count()
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nFound.toDouble >= 0.75 * nTrue.toDouble).as("recall_ge_075"),
          lit(nIndexed == emb.count()).as("index_complete"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS recall_ge_075, TRUE AS index_complete FROM embeddings WHERE vec_id < 10")),

    QueryDef("q170_shuffle_shards",
      // Deterministic shuffled sharding (Mixing.assignShards, seed 3):
      // shard = seeded-hash mod 8 — the reproducible training-output
      // partitioning (every epoch/restart replays the identical
      // assignment; rand() could not). Gated exactly: per-shard counts,
      // id sums, and the FIRST doc of each shard's intra-shard
      // deterministic order (packed min over hash·2²⁴+id — the order
      // shuffleDeterministic materializes). Hash sharding balances to
      // ±O(√(N/shards)); the oracle replays the whole assignment.
      (s, d) => {
        val sharded = Mixing.assignShards(documents(s, d), "doc_id",
          nShards = 8, seed = 3L)
        val hp = Mixing.hashPrioritySeeded(col("doc_id"), 3L)
        sharded
          .select(col("shard"), col("doc_id"), hp.as("__hp"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_ids"),
            pmod(min(col("__hp") * lit(16777216L) + col("doc_id")),
              lit(16777216L)).as("first_doc"))
          .orderBy(col("shard"))
      },
      Some(s"""WITH h AS (SELECT doc_id, ${Mixing.hashPrioritySeededSql("doc_id", 3L)} AS hp FROM documents) SELECT hp % 8 AS shard, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids, CAST(MIN(hp * 16777216 + doc_id) % 16777216 AS BIGINT) AS first_doc FROM h GROUP BY 1 ORDER BY 1""")),

    QueryDef("q168_fuzzy_decontaminate",
      // FUZZY decontamination (Decontam.decontaminateFuzzy): drop train
      // docs that are NEAR-duplicates (shingle Jaccard ≥ 0.8) of any
      // eval doc — paraphrase/template leakage the exact n-gram probe
      // (q67) dilutes. One LSH pass over the tagged union, cross-corpus
      // candidates only, exact-Jaccard verify. Hash-gated on the same
      // recall-1 argument as q35 (16×4 banding at 0.8 → miss < 1e-6);
      // the DuckDB oracle computes the exact train×eval pair set. Eval =
      // every 97th doc (verbatim copies, so they and their planted
      // near-dups must drop).
      (s, d) => {
        val docs = documents(s, d)
        val ev = docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
          .select(col("doc_id"), col("text"))
        graft.operators.Decontam.decontaminateFuzzy(docs, ev, "doc_id",
            "text", threshold = 0.8)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(length(col("text")).cast("long")).as("chars_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents)), flagged AS (SELECT DISTINCT t.doc_id FROM sh t JOIN sh e ON e.doc_id % 97 = 0 AND CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(t.sh, e.sh))) AS DOUBLE) >= 0.8) SELECT source, COUNT(*) AS n_kept, CAST(SUM(length(text)) AS BIGINT) AS chars_kept FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM flagged) GROUP BY 1 ORDER BY 1""")),

    QueryDef("q177_contamination_attribution",
      // WHICH benchmark leaked: per contaminated train doc, the eval doc
      // sharing the most trigrams (ties → lowest eval id) — the
      // actionable decontamination report (q67 counts overlap; this
      // names the source). Broadcast eval grams with ids, pair counts in
      // one hash agg bounded by real overlaps, per-train top-1 window
      // (per-partition group limits — no global sort). Fully hash-gated:
      // DuckDB replays grams, pair counts, and the tie-broken argmax.
      (s, d) => {
        val docs = documents(s, d)
        val ev = docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
          .select(col("doc_id"), col("text"))
        graft.operators.Decontam.contaminationAttribution(
            docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), ev,
            "doc_id", "text", n = 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS gram FROM w), tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0), eg AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0), j AS (SELECT tg.doc_id, eg.eval_id, COUNT(*) AS n_shared FROM tg JOIN eg USING (gram) GROUP BY 1, 2) SELECT doc_id, eval_id, n_shared FROM j QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, eval_id ASC) = 1 ORDER BY doc_id""")),

    QueryDef("q174_token_fertility_by_lang",
      // Tokenizer-fertility rollup per predicted language — the mixture-
      // budgeting metric (chars consumed per whitespace token varies by
      // language/script, so a token budget is NOT a byte budget; this is
      // the per-language conversion table). One scan: the native langid
      // kernels project the language in the scan stage, one hash
      // aggregate keyed on it; the ratio is exact integer division so
      // the row hash-matches. Reuses q33's DuckDB langid replay.
      (s, d) => {
        import graft.operators.TextAnalysis
        documents(s, d)
          .groupBy(TextAnalysis.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long"))
              .as("sum_tokens"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
          .withColumn("chars_per_token_milli",
            expr("sum_chars * 1000 DIV sum_tokens"))
          .orderBy(col("lang_pred"))
      },
      Some {
        val toks = "string_split_regex(lower(text), ' +')"
        def hits(ws: Seq[String]) =
          s"CAST(len(list_filter($toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)"
        val sEn = hits(Seq("the", "and", "of", "to", "is", "with", "that"))
        val sEs = hits(Seq("el", "la", "los", "las", "que", "de", "y", "una"))
        val sDe = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein"))
        val sFr = hits(Seq("le", "les", "des", "est", "et", "une", "dans"))
        val sZh = """CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS DOUBLE) * 3.0"""
        s"""WITH sc AS (SELECT text, $sEn AS s_en, $sEs AS s_es, $sDe AS s_de, $sFr AS s_fr, $sZh AS s_zh FROM documents),
           | pick AS (SELECT CASE
           |   WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) <= 0 THEN 'und'
           |   WHEN s_zh > s_fr AND s_zh > s_de AND s_zh > s_es AND s_zh > s_en THEN 'zh'
           |   WHEN s_fr > s_de AND s_fr > s_es AND s_fr > s_en THEN 'fr'
           |   WHEN s_de > s_es AND s_de > s_en THEN 'de'
           |   WHEN s_es > s_en THEN 'es'
           |   ELSE 'en' END AS lang_pred,
           |   CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS toks,
           |   CAST(length(text) AS BIGINT) AS chars FROM sc)
           |SELECT lang_pred, COUNT(*) AS n_docs,
           | CAST(SUM(toks) AS BIGINT) AS sum_tokens,
           | CAST(SUM(chars) AS BIGINT) AS sum_chars,
           | CAST(SUM(chars) * 1000 // SUM(toks) AS BIGINT) AS chars_per_token_milli
           |FROM pick GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    QueryDef("q175_stratified_split_exact",
      // EXACT-proportion stratified train/val/test split
      // (Mixing.stratifiedSplitExact): within every source, rows ranked
      // by (seeded hash, id) and cut at ⌊n·cum/total⌋ — so each split's
      // per-stratum size is a deterministic integer, not a hash
      // expectation (a small source can NEVER lose its val/test slice).
      // One exchange on source + one shared in-partition sort. The
      // oracle replays the complete ranking and every cutoff.
      (s, d) => Mixing.stratifiedSplitExact(documents(s, d), "doc_id",
          "source", Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), seed = 1L)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"), col("split")),
      Some(s"""WITH r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY ${Mixing.hashPrioritySeededSql("doc_id", 1L)}, doc_id) AS rn, COUNT(*) OVER (PARTITION BY source) AS n FROM documents) SELECT source, CASE WHEN rn * 10 <= n * 8 THEN 'train' WHEN rn * 10 <= n * 9 THEN 'val' ELSE 'test' END AS split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q176_ann_nprobe_autotune",
      // Serving-side nProbe AUTO-TUNER (Ann.autoTuneNProbe): walk the
      // candidate ladder over a persisted index until measured recall on
      // a held-out probe sample meets the target — recall depends on the
      // data's clusteredness, so the knob cannot be set a priori; the
      // tuner makes the choice deterministic and auditable. Gated on the
      // tuner's own contract: the chosen setting meets the target on the
      // sample, and it still prunes (chosen < numCentroids ⇒ the search
      // reads a strict subset of the lists). GateProbe: the tuner picks
      // nProbe=2 at ALL of sf0.001/0.01/0.1 (recall 0.84/0.82/0.93) — a
      // 4× read cut below the hand-set nProbe=8 default, found
      // automatically. nProbe=32 (all lists) would
      // be recall 1.0 by construction, so a meetable target always
      // terminates before exhausting the ladder on clustered-enough data.
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 20)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q176_index_$sfTag")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", path, numCentroids = 32)
        val (chosen, recall) = Ann.autoTuneNProbe(s, path, emb, probes,
          "vec_id", "embedding", k = 5, targetRecall = 0.75,
          candidates = Seq(2, 4, 8, 16, 24, 28))
        // the pruning gate must be FALSIFIABLE: `chosen < 32` would be
        // vacuous (the ladder caps at 28). `chosen·4 ≤ 32` is a real
        // claim about the corpus — the tuner found a ≥4× read cut below
        // probing everything — and fails honestly on data clustered too
        // weakly for nProbe ≤ 8 to reach the target (the floor then gets
        // re-measured, like every recall floor in this file).
        s.range(1).select(
          lit(probes.count() * 5).as("n_truth_pairs"),
          lit(recall >= 0.75).as("target_met"),
          lit(chosen * 4 <= 32).as("read_cut_ge_4x"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth_pairs, TRUE AS target_met, TRUE AS read_cut_ge_4x FROM embeddings WHERE vec_id < 20")),

    QueryDef("q192_ann_index_delete",
      // IVF index MAINTENANCE (round-7 verdict item 7): a crawl-drop
      // serving store also sheds documents (takedowns, recrawls).
      // Ann.deleteFromIvfIndex anti-join-rewrites ONLY the inverted-list
      // directories holding deleted ids (dynamic partition overwrite;
      // untouched lists keep their files byte-identical — AnnIndexSpec
      // asserts the listing). Gated on the delete CONTRACT, all legs
      // DuckDB-checkable: deleted count = |delete set ∩ corpus|,
      // survivor count reconciles, no deleted id reachable by a
      // full-probe search, and survivors' neighbors still found.
      (s, d) => {
        val emb = embeddings(s, d)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q192_index_$sfTag")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", path, numCentroids = 16)
        val delIds = emb.filter(pmod(col("vec_id"), lit(7L)) === 3)
          .select(col("vec_id"))
        val deleted = Ann.deleteFromIvfIndex(s, path, delIds, "vec_id")
        val survivors = Ann.readIndexCorpus(s, path).count()
        val probes = emb.filter(col("vec_id") < 10)
        val res = Ann.searchIvfIndex(s, path, probes, "vec_id", "embedding",
          k = 5, nProbe = 16)
        val hitsDeleted = res
          .filter(pmod(col("neighbor_id"), lit(7L)) === 3).count()
        s.range(1).select(
          lit(deleted).as("n_deleted"),
          lit(survivors).as("n_survivors"),
          lit(hitsDeleted == 0L).as("no_deleted_neighbor"),
          lit(res.count() == probes.count() * 5L).as("full_k_for_all"))
      },
      Some("""SELECT
 CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
 CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_survivors,
 TRUE AS no_deleted_neighbor, TRUE AS full_k_for_all FROM embeddings""")),

    QueryDef("q194_ann_index_upsert",
      // Idempotent index UPSERT (Ann.upsertIntoIvfIndex = delete-then-
      // append): recrawled ids REPLACE their stale vectors, and a
      // replayed batch converges to the same state — the property bare
      // append lacks, and what makes StreamingIndexIngest's foreachBatch
      // at-least-once delivery effectively exactly-once. The recrawl
      // re-delivers every vec_id % 11 == 5 with the NEGATED vector,
      // TWICE (simulated redelivery). Gated: total count unchanged
      // (replaced, not duplicated, even when replayed), every recrawled
      // id stores exactly the negated vector, non-recrawled vectors
      // untouched.
      (s, d) => {
        val emb = embeddings(s, d)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q194_index_$sfTag")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", path, numCentroids = 16)
        val recrawl = emb.filter(pmod(col("vec_id"), lit(11L)) === 5)
          .select(col("vec_id"),
            transform(col("embedding"), v => -v).as("embedding"))
        Ann.upsertIntoIvfIndex(recrawl, "vec_id", "embedding", path)
        Ann.upsertIntoIvfIndex(recrawl, "vec_id", "embedding", path)
        val stored = Ann.readIndexCorpus(s, path)
          .select(col("id").as("vec_id"), col("vec"))
        val nTotal = stored.count()
        val wanted = emb.select(col("vec_id"),
          when(pmod(col("vec_id"), lit(11L)) === 5,
            transform(col("embedding"), v => -v))
            .otherwise(col("embedding")).as("want"))
        val nCorrect = wanted.join(stored, "vec_id")
          .filter(col("want") === col("vec")).count()
        s.range(1).select(
          lit(nTotal).as("n_total"),
          lit(recrawl.count()).as("n_recrawled"),
          lit(nCorrect == nTotal).as("all_vectors_correct"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
 CAST(SUM(CASE WHEN vec_id % 11 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_recrawled,
 TRUE AS all_vectors_correct FROM embeddings""")),

    QueryDef("q193_curation_recipe",
      // The COMPOSED crawl-drop recipe (round-7 verdict item 8): the
      // individually-gated stages q182 (keep-first span dedup) → q187
      // (winnow containment triage; drop the smaller side of any
      // ≥60%-contained pair, ties drop the larger id) → q178 (DSIR
      // selection toward the English target) run as ONE flow over the
      // documents fixture, so a regression in the COMPOSITION — not just
      // an operator — fails the gate. Stage accounting (n_input /
      // n_after_span / n_after_triage) rides every output row. The
      // DuckDB oracle is the literal chain of the three stage oracles'
      // CTEs, replaying the whole recipe bit-for-bit.
      (s, d) => {
        val docs = documents(s, d)
        val nInput = docs.count()
        val cleaned = graft.operators.Dedup.removeDuplicatedSpans(
            docs, "doc_id", "text", k = 8, keepFirst = true)
          .filter(col("n_removed") < col("n_words"))
          .select(col("doc_id"), col("clean_text"))
          .staged
        val nSpan = cleaned.count()
        val pairs = graft.operators.Dedup.winnowContainmentPairs(
          cleaned, "doc_id", "clean_text", k = 4, w = 8, minShared = 2)
        val T = 600000L
        val dropA = pairs.filter(col("cont_a_ppm") >= T &&
            col("sz_a") < col("sz_b"))
          .select(col("id_a").as("doc_id"))
        val dropB = pairs.filter(col("cont_b_ppm") >= T &&
            (col("sz_b") < col("sz_a") || col("sz_a") === col("sz_b")))
          .select(col("id_b").as("doc_id"))
        val triaged = cleaned.join(dropA.union(dropB).distinct(),
          Seq("doc_id"), "left_anti").staged
        val nTriage = triaged.count()
        val pool = triaged.withColumnRenamed("clean_text", "text")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.operators.Dsir.select(pool, pool.filter(col("lang") === "en"),
            "doc_id", "text", k = 25, buckets = 512, keep = Seq("lang"))
          .withColumn("n_input", lit(nInput))
          .withColumn("n_after_span", lit(nSpan))
          .withColumn("n_after_triage", lit(nTriage))
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h, MIN(doc_id * 2097152 + i) AS firstocc FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h) WHERE g.doc_id * 2097152 + g.i <> d.firstocc), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p WHERE cov.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1), clean AS MATERIALIZED (SELECT res.doc_id, res.clean_text AS text FROM res WHERE res.n_kept > 0), w2 AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM clean), o2 AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 4 THEN len(w) - 2 ELSE 1 END)) AS i FROM w2), g2 AS (SELECT o2.doc_id, o2.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w2.w[o2.i:o2.i+3], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o2 JOIN w2 ON o2.doc_id = w2.doc_id), hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g2 GROUP BY 1), fp0 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) < 8 THEN [list_min(hs)] ELSE [list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)] END)) AS fp FROM hl), sz AS (SELECT doc_id, COUNT(*) AS sz FROM fp0 GROUP BY 1), dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS dfc FROM fp0 GROUP BY 1), fpk AS MATERIALIZED (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN dfc ON fp0.fp = dfc.fp WHERE dfc.dfc BETWEEN 2 AND 64), pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared FROM fpk x JOIN fpk y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2), cpairs AS (SELECT pr.id_a, pr.id_b, sa.sz AS sz_a, sb.sz AS sz_b, CAST(pr.n_shared * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm, CAST(pr.n_shared * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id WHERE pr.n_shared >= 2), drops AS (SELECT id_a AS doc_id FROM cpairs WHERE cont_a_ppm >= 600000 AND sz_a < sz_b UNION SELECT id_b AS doc_id FROM cpairs WHERE cont_b_ppm >= 600000 AND (sz_b < sz_a OR sz_a = sz_b)), pool AS MATERIALIZED (SELECT c.doc_id, c.text, documents.lang FROM clean c JOIN documents USING (doc_id) WHERE c.doc_id NOT IN (SELECT doc_id FROM drops)), tok AS MATERIALIZED (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok FROM pool), b AS MATERIALIZED (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(tok, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) % 512 AS bucket FROM tok), tc AS MATERIALIZED (SELECT bucket, COUNT(*) AS ct FROM b JOIN pool USING (doc_id) WHERE lang = 'en' GROUP BY 1), rc AS MATERIALIZED (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY 1), tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS tt, (SELECT COALESCE(SUM(cr), 0) FROM rc) AS tr), wgt AS (SELECT r.i AS bucket, (COALESCE(tc.ct, 0) + 1) * 1000000 // (tot.tt + 512) - (COALESCE(rc.cr, 0) + 1) * 1000000 // (tot.tr + 512) AS wppm FROM range(512) r(i) LEFT JOIN tc ON tc.bucket = r.i LEFT JOIN rc ON rc.bucket = r.i CROSS JOIN tot), sc AS (SELECT p.doc_id, p.lang, CAST(COALESCE(SUM(wgt.wppm), 0) AS BIGINT) AS score_ppm FROM pool p LEFT JOIN b ON p.doc_id = b.doc_id LEFT JOIN wgt ON b.bucket = wgt.bucket GROUP BY 1, 2) SELECT sc.doc_id, sc.lang, sc.score_ppm, (SELECT COUNT(*) FROM documents) AS n_input, (SELECT COUNT(*) FROM clean) AS n_after_span, (SELECT COUNT(*) FROM pool) AS n_after_triage FROM sc ORDER BY score_ppm DESC, doc_id LIMIT 25""")),

    QueryDef("q196_ann_index_retrain",
      // ATOMIC centroid retrain (Ann.retrainIvfIndex): the op the
      // append/delete drift caveats defer to. The fixture recreates the
      // drift shape q169 documents — centroids trained on the even-id
      // half, the odd half appended against them (its documented IVF
      // worst case: recall 0.68–0.82 at nProbe 8 across scales) — then
      // retrains on the live corpus and re-searches at the SAME nProbe.
      // Gated deterministically (Lloyd seeds, assignment and search are
      // pure functions of the data): row count preserved, post-retrain
      // recall ≥ 0.75 at nProbe 8 (measured 0.96/0.88/0.94 at
      // sf0.001/0.01/0.1 — the half-trained index needed nProbe 16 to
      // clear the same floor), and retrain strictly improved recall at
      // equal read budget (measured +0.24/+0.20/+0.12). One manifest
      // publish swaps centroids and assignments together — search never
      // sees a centroids/assignment mix (AnnIndexSpec pins the
      // atomicity and exhaustive-search invariance).
      (s, d) => {
        val emb = embeddings(s, d)
        val sfTag = new java.io.File(d).getName
        val path = graft.TmpDirs.path(s"q196_index_$sfTag")
        Ann.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
          "vec_id", "embedding", path, numCentroids = 32)
        Ann.appendToIvfIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
          "vec_id", "embedding", path)
        val probes = emb.filter(col("vec_id") < 10)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id")).staged
        val nTrue = bf.count()
        def found(): Long = bf.join(
          Ann.searchIvfIndex(s, path, probes, "vec_id", "embedding",
              k = 5, nProbe = 8)
            .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val beforeN = found()
        Ann.retrainIvfIndex(s, path)
        val afterN = found()
        val nIndexed = Ann.readIndexCorpus(s, path).count()
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nIndexed == emb.count()).as("rows_preserved"),
          lit(afterN.toDouble >= 0.75 * nTrue.toDouble)
            .as("recall_after_ge_075"),
          lit(afterN > beforeN).as("retrain_improved_recall"))
      },
      Some("""SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS rows_preserved, TRUE AS recall_after_ge_075, TRUE AS retrain_improved_recall FROM embeddings WHERE vec_id < 10""")),

    QueryDef("q195_curation_recipe_neardup",
      // The FULL four-stage crawl-drop recipe (round-8 verdict item 6):
      // q193 composed span→winnow→DSIR, but production triage runs
      // MinHash NEAR-DEDUP between span excision and containment triage —
      // this gates that composition: q182 (keep-first span dedup) → q35/
      // q80 (MinHash-LSH near-dup pairs over the CLEANED texts, connected
      // components, keep each cluster's min id) → q187 (winnow
      // containment triage over the dedup survivors) → q178 (DSIR toward
      // the English target). Per-stage row accounting rides every output
      // row, so a drift in ANY stage (or in how stages hand off) fails
      // the hash. The DuckDB oracle chains the four stage oracles' CTEs,
      // replaying the whole recipe bit-for-bit — near-dup as the same
      // exact-Jaccard recursive-reach clustering q45/q80 replay (LSH
      // recall-1 argument: 16×4 banding at 0.8 ⇒ miss < 1e-6).
      (s, d) => {
        val docs = documents(s, d)
        val nInput = docs.count()
        val cleaned = graft.operators.Dedup.removeDuplicatedSpans(
            docs, "doc_id", "text", k = 8, keepFirst = true)
          .filter(col("n_removed") < col("n_words"))
          .select(col("doc_id"), col("clean_text"))
          .staged
        val nSpan = cleaned.count()
        val ndPairs = graft.operators.Dedup.nearDupPairs(
          cleaned.withColumnRenamed("clean_text", "text"), "doc_id", "text",
          threshold = 0.8, shingleN = 3, numHashes = 64, bands = 16)
        val ndLosers = graft.operators.Dedup.dupClusters(ndPairs)
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        val deduped = cleaned.join(ndLosers, Seq("doc_id"), "left_anti")
          .staged
        val nNear = deduped.count()
        val pairs = graft.operators.Dedup.winnowContainmentPairs(
          deduped, "doc_id", "clean_text", k = 4, w = 8, minShared = 2)
        val T = 600000L
        val dropA = pairs.filter(col("cont_a_ppm") >= T &&
            col("sz_a") < col("sz_b"))
          .select(col("id_a").as("doc_id"))
        val dropB = pairs.filter(col("cont_b_ppm") >= T &&
            (col("sz_b") < col("sz_a") || col("sz_a") === col("sz_b")))
          .select(col("id_b").as("doc_id"))
        val triaged = deduped.join(dropA.union(dropB).distinct(),
          Seq("doc_id"), "left_anti").staged
        val nTriage = triaged.count()
        val pool = triaged.withColumnRenamed("clean_text", "text")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        graft.operators.Dsir.select(pool, pool.filter(col("lang") === "en"),
            "doc_id", "text", k = 25, buckets = 512, keep = Seq("lang"))
          .withColumn("n_input", lit(nInput))
          .withColumn("n_after_span", lit(nSpan))
          .withColumn("n_after_near", lit(nNear))
          .withColumn("n_after_triage", lit(nTriage))
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h, MIN(doc_id * 2097152 + i) AS firstocc FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h) WHERE g.doc_id * 2097152 + g.i <> d.firstocc), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p WHERE cov.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1), clean AS MATERIALIZED (SELECT res.doc_id, res.clean_text AS text FROM res WHERE res.n_kept > 0), nd_sh AS (SELECT doc_id, list_distinct([cw[i] || ' ' || cw[i+1] || ' ' || cw[i+2] for i in range(1, len(cw) - 1)]) AS sh FROM (SELECT doc_id, string_split_regex(text, ' +') AS cw FROM clean)), nd_ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM nd_sh), nd_pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb, COUNT(*) AS inter FROM nd_ex a JOIN nd_ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2), nd_pairs AS MATERIALIZED (SELECT id_a, id_b FROM nd_pr WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.8), nd_edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM nd_pairs UNION SELECT id_b, id_a FROM nd_pairs), nd_reach(id, r) AS (SELECT src, src FROM nd_edges UNION SELECT e.src, nd_reach.r FROM nd_edges e JOIN nd_reach ON e.dst = nd_reach.id), nd_losers AS (SELECT id FROM (SELECT id, MIN(r) AS cluster FROM nd_reach GROUP BY id) WHERE cluster < id), dedup AS MATERIALIZED (SELECT doc_id, text FROM clean WHERE doc_id NOT IN (SELECT id FROM nd_losers)), w2 AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM dedup), o2 AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 4 THEN len(w) - 2 ELSE 1 END)) AS i FROM w2), g2 AS (SELECT o2.doc_id, o2.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w2.w[o2.i:o2.i+3], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o2 JOIN w2 ON o2.doc_id = w2.doc_id), hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g2 GROUP BY 1), fp0 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) < 8 THEN [list_min(hs)] ELSE [list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)] END)) AS fp FROM hl), sz AS (SELECT doc_id, COUNT(*) AS sz FROM fp0 GROUP BY 1), dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS dfc FROM fp0 GROUP BY 1), fpk AS MATERIALIZED (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN dfc ON fp0.fp = dfc.fp WHERE dfc.dfc BETWEEN 2 AND 64), pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared FROM fpk x JOIN fpk y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2), cpairs AS (SELECT pr.id_a, pr.id_b, sa.sz AS sz_a, sb.sz AS sz_b, CAST(pr.n_shared * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm, CAST(pr.n_shared * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id WHERE pr.n_shared >= 2), drops AS (SELECT id_a AS doc_id FROM cpairs WHERE cont_a_ppm >= 600000 AND sz_a < sz_b UNION SELECT id_b AS doc_id FROM cpairs WHERE cont_b_ppm >= 600000 AND (sz_b < sz_a OR sz_a = sz_b)), pool AS MATERIALIZED (SELECT c.doc_id, c.text, documents.lang FROM dedup c JOIN documents USING (doc_id) WHERE c.doc_id NOT IN (SELECT doc_id FROM drops)), tok AS MATERIALIZED (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok FROM pool), b AS MATERIALIZED (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(tok, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) % 512 AS bucket FROM tok), tc AS MATERIALIZED (SELECT bucket, COUNT(*) AS ct FROM b JOIN pool USING (doc_id) WHERE lang = 'en' GROUP BY 1), rc AS MATERIALIZED (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY 1), tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS tt, (SELECT COALESCE(SUM(cr), 0) FROM rc) AS tr), wgt AS (SELECT r.i AS bucket, (COALESCE(tc.ct, 0) + 1) * 1000000 // (tot.tt + 512) - (COALESCE(rc.cr, 0) + 1) * 1000000 // (tot.tr + 512) AS wppm FROM range(512) r(i) LEFT JOIN tc ON tc.bucket = r.i LEFT JOIN rc ON rc.bucket = r.i CROSS JOIN tot), sc AS (SELECT p.doc_id, p.lang, CAST(COALESCE(SUM(wgt.wppm), 0) AS BIGINT) AS score_ppm FROM pool p LEFT JOIN b ON p.doc_id = b.doc_id LEFT JOIN wgt ON b.bucket = wgt.bucket GROUP BY 1, 2) SELECT sc.doc_id, sc.lang, sc.score_ppm, (SELECT COUNT(*) FROM documents) AS n_input, (SELECT COUNT(*) FROM clean) AS n_after_span, (SELECT COUNT(*) FROM dedup) AS n_after_near, (SELECT COUNT(*) FROM pool) AS n_after_triage FROM sc ORDER BY score_ppm DESC, doc_id LIMIT 25""")),

    QueryDef("q173_grouped_adaptive_cli",
      // --error N WITH GROUP BY through the real CLI executor path
      // (SpecExecutor → AdaptiveExecutor.runGroupedDeterministic): the
      // scalar adaptive ladder becomes per-group, each group stopping at
      // its own converged round over lineitem's declared row key. FULLY
      // hash-gated: the oracle is q172's ladder replay with l_returnflag
      // as the group, under the CLI's column names.
      (s, d) => {
        Tables.registerAll(s, d)
        val spec = graft.parser.QueryParser.parse(
          "SELECT SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag")
          .copy(sampling = graft.model.SamplingStrategy.Adaptive(
            errorThresholdPct = 2.0))
        graft.exec.SpecExecutor.run(s, spec)
      },
      Some(s"""SELECT "group" AS l_returnflag, sum_est AS sum_l_extendedprice, ci_lower AS sum_l_extendedprice_ci_lower, ci_upper AS sum_l_extendedprice_ci_upper, n_used AS sum_l_extendedprice_n, status FROM (${sumLadderOracle("l_returnflag")}) ORDER BY 1""")),

    QueryDef("q172_adaptive_group_clt",
      // PER-GROUP adaptive CLT ladder (AdaptiveExecutor
      // .runGroupedDeterministic): every group climbs the nested 20⊃10⊃5
      // systematic ladder independently and stops at ITS first converged
      // round; groups below 250 rows (50·min-step — the n ≥ 50 CLT floor
      // is unreachable) route EXACT in one scoped job (q138's
      // route-by-size, now iterated). The synthetic RARE group
      // (l_orderkey % 997 = 0) exercises the exact branch at small SFs
      // and the ladder at sf0.1. FULLY hash-gated like q29: the DuckDB
      // oracle replays per group the moments, first-converged-round
      // selection, CI bounds, cumulative n_used, and the
      // Exact/Stable/Drifting/InsufficientData verdict bit-for-bit.
      (s, d) => {
        val grp = when(pmod(col("l_orderkey"), lit(997L)) === 0, lit("RARE"))
          .otherwise(col("l_returnflag"))
        graft.exec.AdaptiveExecutor.runGroupedDeterministic(
          lineitem(s, d), col("l_extendedprice"), lineitemKey.column, grp,
          steps = Seq(20L, 10L, 5L), errorThresholdPct = 2.0)
          .orderBy(col("group"))
      },
      Some(sumLadderOracle(
        "CASE WHEN l_orderkey % 997 = 0 THEN 'RARE' ELSE l_returnflag END"))),

    QueryDef("q190_adaptive_group_avg",
      // AVG mode of the per-group adaptive CLT ladder (round-7 verdict
      // item 4): same nested 20⊃10⊃5 moment scan as q172, but the
      // estimate is the plain sample mean with a mean CI (no N/n scale
      // factor). Small groups (RARE at small SFs) route exact =
      // sum/count. FULLY hash-gated: the DuckDB oracle replays moments,
      // first-converged-round selection, CI bounds, cumulative n_used
      // and verdict bit-for-bit.
      (s, d) => {
        val grp = when(pmod(col("l_orderkey"), lit(997L)) === 0, lit("RARE"))
          .otherwise(col("l_returnflag"))
        graft.exec.AdaptiveExecutor.runGroupedDeterministic(
          lineitem(s, d), col("l_extendedprice"), lineitemKey.column, grp,
          steps = Seq(20L, 10L, 5L), errorThresholdPct = 2.0, agg = "avg")
          .orderBy(col("group"))
      },
      Some {
        val k = lineitemKey.sql
        val xc = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        val gx = "CASE WHEN l_orderkey % 997 = 0 THEN 'RARE' ELSE l_returnflag END"
        s"""WITH base AS (SELECT $gx AS g, $k AS k, $xc AS xc FROM lineitem),
m AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS nn,
 CAST(SUM(CAST(xc AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS exact_s,
 CAST(COUNT(CASE WHEN k % 20 = 0 THEN xc END) AS DOUBLE) AS n1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc1,
 CAST(SUM(CASE WHEN k % 20 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c1,
 CAST(COUNT(CASE WHEN k % 10 = 0 THEN xc END) AS DOUBLE) AS n2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc2,
 CAST(SUM(CASE WHEN k % 10 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c2,
 CAST(COUNT(CASE WHEN k % 5 = 0 THEN xc END) AS DOUBLE) AS n3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc AS DECIMAL(28,0)) END) AS DOUBLE) AS sc3,
 CAST(SUM(CASE WHEN k % 5 = 0 THEN CAST(xc * xc AS DECIMAL(38,0)) END) AS DOUBLE) AS s2c3
 FROM base GROUP BY g),
r AS (SELECT g, nn, exact_s, n1, n2, n3,
 CASE WHEN n1 > 0 THEN (sc1 / n1) / 100.0 ELSE 0.0 END AS est1,
 CASE WHEN n1 > 1 THEN 1.96 * sqrt(((s2c1 - sc1 * sc1 / n1) / (n1 - 1)) / n1) / 100.0 ELSE 1e18 END AS mar1,
 CASE WHEN n2 > 0 THEN (sc2 / n2) / 100.0 ELSE 0.0 END AS est2,
 CASE WHEN n2 > 1 THEN 1.96 * sqrt(((s2c2 - sc2 * sc2 / n2) / (n2 - 1)) / n2) / 100.0 ELSE 1e18 END AS mar2,
 CASE WHEN n3 > 0 THEN (sc3 / n3) / 100.0 ELSE 0.0 END AS est3,
 CASE WHEN n3 > 1 THEN 1.96 * sqrt(((s2c3 - sc3 * sc3 / n3) / (n3 - 1)) / n3) / 100.0 ELSE 1e18 END AS mar3
 FROM m),
rr AS (SELECT *,
 CASE WHEN est1 <> 0.0 AND mar1 < 1e18 THEN 100.0 * (((est1 + mar1) - (est1 - mar1)) / 2.0) / abs(est1) ELSE 1e18 END AS rel1,
 CASE WHEN est2 <> 0.0 AND mar2 < 1e18 THEN 100.0 * (((est2 + mar2) - (est2 - mar2)) / 2.0) / abs(est2) ELSE 1e18 END AS rel2,
 CASE WHEN est3 <> 0.0 AND mar3 < 1e18 THEN 100.0 * (((est3 + mar3) - (est3 - mar3)) / 2.0) / abs(est3) ELSE 1e18 END AS rel3
 FROM r),
sel AS (SELECT *, CASE WHEN rel1 <= 2.0 AND n1 >= 50 THEN 1 WHEN rel2 <= 2.0 AND n2 >= 50 THEN 2 ELSE 3 END AS ru FROM rr)
SELECT g AS "group", CAST(nn AS BIGINT) AS n_rows,
 CASE WHEN nn < 250 THEN exact_s / nn ELSE CASE ru WHEN 1 THEN est1 WHEN 2 THEN est2 ELSE est3 END END AS sum_est,
 CASE WHEN nn < 250 THEN exact_s / nn ELSE CASE ru WHEN 1 THEN est1 - mar1 WHEN 2 THEN est2 - mar2 ELSE est3 - mar3 END END AS ci_lower,
 CASE WHEN nn < 250 THEN exact_s / nn ELSE CASE ru WHEN 1 THEN est1 + mar1 WHEN 2 THEN est2 + mar2 ELSE est3 + mar3 END END AS ci_upper,
 CAST(CASE WHEN nn < 250 THEN nn ELSE CASE ru WHEN 1 THEN n1 WHEN 2 THEN n1 + n2 ELSE n1 + n2 + n3 END END AS BIGINT) AS n_used,
 CAST(CASE WHEN nn < 250 THEN 0 ELSE ru END AS INTEGER) AS rounds_used,
 CASE WHEN nn < 250 THEN 'Exact'
  WHEN (CASE ru WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) < 50 THEN 'InsufficientData'
  WHEN ru = 2 AND ((est1 + mar1 < est2 - mar2) OR (est2 + mar2 < est1 - mar1)) AND est1 <> 0.0 AND abs(est2 - est1) / abs(est1) * 100.0 > 5.0 THEN 'Drifting'
  WHEN ru = 3 AND ((est2 + mar2 < est3 - mar3) OR (est3 + mar3 < est2 - mar2)) AND est2 <> 0.0 AND abs(est3 - est2) / abs(est2) * 100.0 > 5.0 THEN 'Drifting'
  WHEN (CASE ru WHEN 1 THEN rel1 WHEN 2 THEN rel2 ELSE rel3 END) <= 2.0 THEN 'Stable'
  ELSE 'Drifting' END AS status
FROM sel ORDER BY g"""
      }),

    QueryDef("q191_adaptive_group_count",
      // COUNT mode of the per-group adaptive ladder: the n-moment alone,
      // scaled by the step (1/fraction), with the finite-population
      // Bernoulli margin z·step·√(n·(1−1/step)) — no value decode ever
      // happens beyond the count. 5% threshold so the systematic count
      // (whose relative margin shrinks only with √n) converges inside
      // the ladder at sf0.01. Hash-gated replay like q172/q190.
      (s, d) => {
        val grp = when(pmod(col("l_orderkey"), lit(997L)) === 0, lit("RARE"))
          .otherwise(col("l_returnflag"))
        graft.exec.AdaptiveExecutor.runGroupedDeterministic(
          lineitem(s, d), col("l_extendedprice"), lineitemKey.column, grp,
          steps = Seq(20L, 10L, 5L), errorThresholdPct = 5.0, agg = "count")
          .orderBy(col("group"))
      },
      Some {
        val k = lineitemKey.sql
        val xc = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        val gx = "CASE WHEN l_orderkey % 997 = 0 THEN 'RARE' ELSE l_returnflag END"
        s"""WITH base AS (SELECT $gx AS g, $k AS k, $xc AS xc FROM lineitem),
m AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS nn,
 CAST(COUNT(xc) AS DOUBLE) AS nx,
 CAST(COUNT(CASE WHEN k % 20 = 0 THEN xc END) AS DOUBLE) AS n1,
 CAST(COUNT(CASE WHEN k % 10 = 0 THEN xc END) AS DOUBLE) AS n2,
 CAST(COUNT(CASE WHEN k % 5 = 0 THEN xc END) AS DOUBLE) AS n3
 FROM base GROUP BY g),
r AS (SELECT g, nn, nx, n1, n2, n3,
 n1 * 20.0 AS est1,
 CASE WHEN n1 > 0 THEN 1.96 * 20.0 * sqrt(n1 * (1.0 - 1.0 / 20.0)) ELSE 1e18 END AS mar1,
 n2 * 10.0 AS est2,
 CASE WHEN n2 > 0 THEN 1.96 * 10.0 * sqrt(n2 * (1.0 - 1.0 / 10.0)) ELSE 1e18 END AS mar2,
 n3 * 5.0 AS est3,
 CASE WHEN n3 > 0 THEN 1.96 * 5.0 * sqrt(n3 * (1.0 - 1.0 / 5.0)) ELSE 1e18 END AS mar3
 FROM m),
rr AS (SELECT *,
 CASE WHEN est1 <> 0.0 AND mar1 < 1e18 THEN 100.0 * (((est1 + mar1) - (est1 - mar1)) / 2.0) / abs(est1) ELSE 1e18 END AS rel1,
 CASE WHEN est2 <> 0.0 AND mar2 < 1e18 THEN 100.0 * (((est2 + mar2) - (est2 - mar2)) / 2.0) / abs(est2) ELSE 1e18 END AS rel2,
 CASE WHEN est3 <> 0.0 AND mar3 < 1e18 THEN 100.0 * (((est3 + mar3) - (est3 - mar3)) / 2.0) / abs(est3) ELSE 1e18 END AS rel3
 FROM r),
sel AS (SELECT *, CASE WHEN rel1 <= 5.0 AND n1 >= 50 THEN 1 WHEN rel2 <= 5.0 AND n2 >= 50 THEN 2 ELSE 3 END AS ru FROM rr)
SELECT g AS "group", CAST(nn AS BIGINT) AS n_rows,
 CASE WHEN nn < 250 THEN nx ELSE CASE ru WHEN 1 THEN est1 WHEN 2 THEN est2 ELSE est3 END END AS sum_est,
 CASE WHEN nn < 250 THEN nx ELSE CASE ru WHEN 1 THEN est1 - mar1 WHEN 2 THEN est2 - mar2 ELSE est3 - mar3 END END AS ci_lower,
 CASE WHEN nn < 250 THEN nx ELSE CASE ru WHEN 1 THEN est1 + mar1 WHEN 2 THEN est2 + mar2 ELSE est3 + mar3 END END AS ci_upper,
 CAST(CASE WHEN nn < 250 THEN nn ELSE CASE ru WHEN 1 THEN n1 WHEN 2 THEN n1 + n2 ELSE n1 + n2 + n3 END END AS BIGINT) AS n_used,
 CAST(CASE WHEN nn < 250 THEN 0 ELSE ru END AS INTEGER) AS rounds_used,
 CASE WHEN nn < 250 THEN 'Exact'
  WHEN (CASE ru WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) < 50 THEN 'InsufficientData'
  WHEN ru = 2 AND ((est1 + mar1 < est2 - mar2) OR (est2 + mar2 < est1 - mar1)) AND est1 <> 0.0 AND abs(est2 - est1) / abs(est1) * 100.0 > 5.0 THEN 'Drifting'
  WHEN ru = 3 AND ((est2 + mar2 < est3 - mar3) OR (est3 + mar3 < est2 - mar2)) AND est2 <> 0.0 AND abs(est3 - est2) / abs(est2) * 100.0 > 5.0 THEN 'Drifting'
  WHEN (CASE ru WHEN 1 THEN rel1 WHEN 2 THEN rel2 ELSE rel3 END) <= 5.0 THEN 'Stable'
  ELSE 'Drifting' END AS status
FROM sel ORDER BY g"""
      }),

    QueryDef("q171_ann_ivf_index_int8",
      // INT8-CODED persisted IVF index (Ann.buildIvfIndex codec="int8"):
      // the inverted lists store per-vector-scaled int8 codes instead of
      // float vectors, so a search's candidate read is ~4× fewer bytes —
      // the one place the measured exchange shrink (x_int8_leg_shrink
      // 3.59×) becomes real I/O. Search scores with the integer-dot
      // int8Cosine kernel (AnnIndexSpec pins search ≡ ivfTopKInt8
      // bit-for-bit). Gated at q165's recall floor (≥ 0.75 vs exact
      // brute force) plus the byte fact itself: the int8 corpus is
      // strictly smaller on disk than the float corpus of the SAME data
      // and centroids. GateProbe measured 0.96/0.86/0.94 recall at
      // sf0.001/0.01/0.1 — identical-to-±0.02 vs the float index, well
      // above the floor.
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
        val sfTag = new java.io.File(d).getName
        val path8 = graft.TmpDirs.path(s"q171_index8_$sfTag")
        val pathF = graft.TmpDirs.path(s"q171_indexf_$sfTag")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", path8,
          numCentroids = 32, codec = "int8")
        Ann.buildIvfIndex(emb, "vec_id", "embedding", pathF,
          numCentroids = 32)
        val res = Ann.searchIvfIndex(s, path8, probes, "vec_id", "embedding",
          k = 5, nProbe = 8)
        val bf = Ann.bruteForceTopKFast(emb, probes, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val nTrue = bf.count()
        val nFound = bf.join(res.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        def corpusBytes(p: String): Long = {
          def walk(f: java.io.File): Long =
            if (f.isDirectory) f.listFiles().map(walk).sum
            else if (f.getName.startsWith("part-")) f.length() else 0L
          walk(new java.io.File(s"$p/corpus"))
        }
        s.range(1).select(
          lit(nTrue).as("n_true_neighbors"),
          lit(nFound.toDouble >= 0.75 * nTrue.toDouble).as("recall_ge_075"),
          lit(corpusBytes(path8) < corpusBytes(pathF)).as("int8_bytes_smaller"))
      },
      Some("SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_true_neighbors, TRUE AS recall_ge_075, TRUE AS int8_bytes_smaller FROM embeddings WHERE vec_id < 10")),

    QueryDef("q165_ann_ivf_int8_top5",
      // IVF top-5 with int8-quantized candidate scoring (Ann.ivfTopKInt8
      // — codes are per-vector-scaled signed bytes in BINARY, 4× narrower
      // candidate rows, integer-dot cosine), ORACLE-GATED on recall vs
      // exact brute force at the same 0.75 floor as the full-precision
      // q46 (quantized cosine error ~1e-2 reorders only near-ties;
      // GateProbe measured 0.96/0.86/0.94 at sf0.001/0.01/0.1 vs the
      // float path's 0.96/0.88/0.94 — quantization costs ≤ 0.02 recall).
      (s, d) => {
        val emb = embeddings(s, d)
        val probes = emb.filter(col("vec_id") < 10)
        val ivf = Ann.ivfTopKInt8(emb, probes, "vec_id", "embedding",
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

    QueryDef("q178_dsir_importance_selection",
      // DSIR-style importance selection (Xie et al. 2023): hash tokens
      // into 512 features, contrast an add-one-smoothed TARGET model
      // (lang='en' docs) against the RAW pool, score every doc by the
      // summed per-bucket contrast, keep the top 50. The contrast is the
      // exact-integer smoothed-frequency difference in ppm (the repo's
      // ln()-avoidance rule — see Dsir scaladoc), so the WHOLE flow —
      // fold-hash bucketing, both corpus models, every doc score, the
      // tie-broken top-k — is hash-gated bit-for-bit. Plan shape: token
      // stream never shuffles (512-row weight table broadcast), models
      // are map-side-combined hash aggregates, selection is
      // TakeOrderedAndProject.
      (s, d) => {
        val docs = documents(s, d)
        graft.operators.Dsir.select(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text",
          k = 50, buckets = 512, keep = Seq("lang"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok FROM documents), b AS MATERIALIZED (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(tok, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) % 512 AS bucket FROM tok), tc AS MATERIALIZED (SELECT bucket, COUNT(*) AS ct FROM b JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1), rc AS MATERIALIZED (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY 1), tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS tt, (SELECT COALESCE(SUM(cr), 0) FROM rc) AS tr), w AS (SELECT r.i AS bucket, (COALESCE(tc.ct, 0) + 1) * 1000000 // (tot.tt + 512) - (COALESCE(rc.cr, 0) + 1) * 1000000 // (tot.tr + 512) AS wppm FROM range(512) r(i) LEFT JOIN tc ON tc.bucket = r.i LEFT JOIN rc ON rc.bucket = r.i CROSS JOIN tot), sc AS (SELECT d.doc_id, d.lang, CAST(COALESCE(SUM(w.wppm), 0) AS BIGINT) AS score_ppm FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id LEFT JOIN w ON b.bucket = w.bucket GROUP BY 1, 2) SELECT doc_id, lang, score_ppm FROM sc ORDER BY score_ppm DESC, doc_id LIMIT 50""")),

    QueryDef("q179_novelty_curve_by_shard",
      // Corpus NOVELTY CURVE over the deterministic training shards
      // (CorpusOverlap.noveltyByShard): per shard, the distinct-shingle
      // footprint and how many shingles appear there FIRST — the
      // saturation diagnostic behind "more epochs vs more documents"
      // for a mixture source. One gram→min(shard) aggregate computes
      // the whole curve (map-side combine collapses each partition's
      // grams before the vocab-keyed exchange); ≤ nShards rows out.
      // Deterministic end to end (q170's seeded affine shard hash +
      // the cross-engine fold hash), so DuckDB replays the full curve
      // including fold-hash collisions.
      (s, d) => graft.operators.CorpusOverlap.noveltyByShard(
        documents(s, d), "doc_id", "text", nShards = 8, seed = 1L),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS gram FROM w), h AS (SELECT ((doc_id + 7919) * 1299709 + 104729) % 1000003 % 8 AS shard, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(gram, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS hh FROM g), dd AS (SELECT DISTINCT shard, hh FROM h), f AS (SELECT hh, MIN(shard) AS shard FROM dd GROUP BY 1), fc AS (SELECT shard, COUNT(*) AS n_first FROM f GROUP BY 1), tc AS MATERIALIZED (SELECT shard, COUNT(*) AS n_distinct FROM dd GROUP BY 1) SELECT tc.shard, tc.n_distinct, COALESCE(fc.n_first, 0) AS n_first FROM tc LEFT JOIN fc ON tc.shard = fc.shard ORDER BY 1""")),

    QueryDef("q180_span_dedup",
      // EXACT duplicated-span removal (Lee et al. 2022 ExactSubstr,
      // k-gram formulation): every word span of length >= 8 appearing at
      // two or more positions corpus-wide is excised from EVERY doc —
      // the substring-level dedup that doc-level Jaccard cannot see
      // (license blocks, boilerplate headers, templated paragraphs).
      // Fully deterministic (no sampling, cross-engine fold hash), so
      // DuckDB replays gram hashing, the duplicated set, position
      // coverage, and the reassembled clean text of every doc
      // bit-for-bit — fold-hash collisions included.
      (s, d) => graft.operators.Dedup.removeDuplicatedSpans(
        documents(s, d), "doc_id", "text", k = 8).orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h)), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p WHERE cov.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1) SELECT w.doc_id, COALESCE(res.clean_text, '') AS clean_text, len(w.w) AS n_words, len(w.w) - COALESCE(res.n_kept, 0) AS n_removed FROM w LEFT JOIN res ON w.doc_id = res.doc_id ORDER BY w.doc_id""")),

    QueryDef("q182_span_dedup_keepfirst",
      // q180's machinery under the paper's keep-one-copy policy: each
      // duplicated k-gram's FIRST occurrence (min (doc, pos), a
      // packed-long min folded into the same gram aggregate) is exempt
      // from coverage, so the earliest document keeps the span intact
      // and only later occurrences are excised. Deterministic ⇒ DuckDB
      // replays the canonical-occurrence choice and every clean text.
      (s, d) => graft.operators.Dedup.removeDuplicatedSpans(
        documents(s, d), "doc_id", "text", k = 8, keepFirst = true)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h, MIN(doc_id * 2097152 + i) AS firstocc FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h) WHERE g.doc_id * 2097152 + g.i <> d.firstocc), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p WHERE cov.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1) SELECT w.doc_id, COALESCE(res.clean_text, '') AS clean_text, len(w.w) AS n_words, len(w.w) - COALESCE(res.n_kept, 0) AS n_removed FROM w LEFT JOIN res ON w.doc_id = res.doc_id ORDER BY w.doc_id""")),

    QueryDef("q183_span_dedup_incremental",
      // Corpus-refresh fold of q182: split the corpus into two
      // append-ordered drops at the id midpoint, scrub drop 1 against an
      // empty gram index, drop 2 against the updated index (bloom-staged
      // probe — miss is proof of absence, the mostly-new bulk never
      // joins). keep-first never looks forward, so the fold replays
      // EXACTLY the one-shot q182 answer — the oracle is literally
      // q182's SQL over the union.
      (s, d) => {
        import s.implicits._
        val docs0 = documents(s, d)
        val mid = docs0.agg(expr("(min(doc_id) + max(doc_id)) div 2"))
          .first.getLong(0)
        val (c1, new1) = graft.operators.Dedup
          .removeDuplicatedSpansIncremental(
            docs0.filter(col("doc_id") <= mid), Seq.empty[Long].toDF("h"),
            "doc_id", "text", k = 8)
        // index after drop 1 = empty ∪ drop 1's new grams (the returned
        // delta is already eagerly staged — round-15 result contract)
        val (c2, _) = graft.operators.Dedup
          .removeDuplicatedSpansIncremental(
            docs0.filter(col("doc_id") > mid), new1,
            "doc_id", "text", k = 8, bloomExpectedItems = 1 << 20)
        c1.unionAll(c2).orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h, MIN(doc_id * 2097152 + i) AS firstocc FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h) WHERE g.doc_id * 2097152 + g.i <> d.firstocc), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p WHERE cov.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1) SELECT w.doc_id, COALESCE(res.clean_text, '') AS clean_text, len(w.w) AS n_words, len(w.w) - COALESCE(res.n_kept, 0) AS n_removed FROM w LEFT JOIN res ON w.doc_id = res.doc_id ORDER BY w.doc_id""")),

    QueryDef("q185_span_dedup_long_only",
      // q180 under the paper's LONG-span policy (minSpanWords = 12 > k):
      // only maximal covered runs of >= 12 words are excised, so short
      // accidental overlaps (a shared 8-word idiom) survive. Islands:
      // run key = p - row_number per doc (bounded per-doc window, no
      // global sort); run length = island row count. Deterministic ⇒
      // DuckDB replays the runs and every clean text bit-for-bit.
      (s, d) => graft.operators.Dedup.removeDuplicatedSpans(
        documents(s, d), "doc_id", "text", k = 8, minSpanWords = 12)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h)), isl AS (SELECT doc_id, p, p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov), runs AS (SELECT doc_id, MIN(p) AS s, MAX(p) AS e FROM isl GROUP BY doc_id, grp HAVING COUNT(*) >= 12), covl AS (SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS p FROM runs), pos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM w), kept AS (SELECT pos.doc_id, pos.p FROM pos LEFT JOIN covl ON pos.doc_id = covl.doc_id AND pos.p = covl.p WHERE covl.doc_id IS NULL), res AS (SELECT k.doc_id, string_agg(w.w[CAST(k.p AS INT)], ' ' ORDER BY k.p) AS clean_text, COUNT(*) AS n_kept FROM kept k JOIN w ON k.doc_id = w.doc_id GROUP BY 1) SELECT w.doc_id, COALESCE(res.clean_text, '') AS clean_text, len(w.w) AS n_words, len(w.w) - COALESCE(res.n_kept, 0) AS n_removed FROM w LEFT JOIN res ON w.doc_id = res.doc_id ORDER BY w.doc_id""")),

    QueryDef("q186_winnow_partial_overlap",
      // PARTIAL-overlap pairs via winnowing fingerprints (Schleimer et
      // al. 2003, MOSS): docs sharing >= 2 sliding-window-min gram
      // hashes — the copied-paragraph case whole-doc MinHash dilutes
      // (q35 needs J >= 0.8; one shared paragraph in two long docs is
      // J ≈ 0.1). Bucket algebra like LSH, promiscuous fingerprints
      // (> 64 docs) dropped before pair fan-out. Deterministic sketch ⇒
      // DuckDB replays gram hashing, window minima, the df guard, and
      // every pair count bit-for-bit.
      (s, d) => graft.operators.Dedup.winnowOverlapPairs(
        documents(s, d), "doc_id", "text", k = 4, w = 8, minShared = 2)
        .orderBy("id_a", "id_b"),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 4 THEN len(w) - 2 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+3], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY 1), fp0 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) < 8 THEN [list_min(hs)] ELSE [list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)] END)) AS fp FROM hl), dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS d FROM fp0 GROUP BY 1), fpk AS MATERIALIZED (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN dfc ON fp0.fp = dfc.fp WHERE dfc.d BETWEEN 2 AND 64), pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared FROM fpk x JOIN fpk y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2) SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 2 ORDER BY id_a, id_b""")),

    QueryDef("q187_winnow_containment",
      // ASYMMETRIC containment on the winnow sketches: shared-fingerprint
      // count + both sketch sizes + per-side containment in exact-integer
      // ppm — cont_a_ppm near 1e6 reads "A is quoted/embedded in B" even
      // when B is huge and symmetric overlap looks negligible. Same
      // deterministic sketch as q186, so everything replays.
      (s, d) => graft.operators.Dedup.winnowContainmentPairs(
        documents(s, d), "doc_id", "text", k = 4, w = 8, minShared = 2)
        .orderBy("id_a", "id_b"),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 4 THEN len(w) - 2 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+3], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY 1), fp0 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) < 8 THEN [list_min(hs)] ELSE [list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)] END)) AS fp FROM hl), sz AS (SELECT doc_id, COUNT(*) AS sz FROM fp0 GROUP BY 1), dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS d FROM fp0 GROUP BY 1), fpk AS MATERIALIZED (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN dfc ON fp0.fp = dfc.fp WHERE dfc.d BETWEEN 2 AND 64), pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared FROM fpk x JOIN fpk y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2) SELECT pr.id_a, pr.id_b, pr.n_shared, sa.sz AS sz_a, sb.sz AS sz_b, CAST(pr.n_shared * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm, CAST(pr.n_shared * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id WHERE pr.n_shared >= 2 ORDER BY pr.id_a, pr.id_b""")),

    QueryDef("q188_gram_novelty_scores",
      // Novelty-at-ingest triage: split the corpus into two append-
      // ordered halves at the id midpoint, index the first half's gram
      // set (spanGramIndex), score every second-half doc's fraction of
      // genuinely-new grams (bloom-staged membership probe — the
      // mostly-new bulk never joins). The decision score a crawl-drop
      // pipeline thresholds BEFORE paying for full dedup. Deterministic,
      // exact-integer ppm — fully replayed.
      (s, d) => {
        val docs0 = documents(s, d)
        val mid = docs0.agg(expr("(min(doc_id) + max(doc_id)) div 2"))
          .first.getLong(0)
        val idx = graft.operators.Dedup.spanGramIndex(
          docs0.filter(col("doc_id") <= mid), "doc_id", "text", k = 8)
        graft.operators.Dedup.gramNoveltyScores(
          docs0.filter(col("doc_id") > mid), idx.staged,
          "doc_id", "text", k = 8, bloomExpectedItems = 1 << 20)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents), m AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), gd AS (SELECT DISTINCT doc_id, h FROM g), idx AS (SELECT DISTINCT h FROM gd WHERE doc_id <= (SELECT mid FROM m)), tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM gd WHERE doc_id > (SELECT mid FROM m) GROUP BY 1), nw AS (SELECT gd.doc_id, COUNT(*) AS n_new FROM gd LEFT JOIN idx ON gd.h = idx.h WHERE gd.doc_id > (SELECT mid FROM m) AND idx.h IS NULL GROUP BY 1) SELECT d.doc_id, COALESCE(tot.n_grams, 0) AS n_grams, COALESCE(nw.n_new, 0) AS n_new, CAST(CASE WHEN COALESCE(tot.n_grams, 0) = 0 THEN 0 ELSE COALESCE(nw.n_new, 0) * 1000000 // tot.n_grams END AS BIGINT) AS novelty_ppm FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id LEFT JOIN nw ON d.doc_id = nw.doc_id WHERE d.doc_id > (SELECT mid FROM m) ORDER BY d.doc_id""")),

    QueryDef("q189_winnow_overlap_matrix",
      // Cross-SOURCE overlap matrix (which sources copy from each
      // other — mirrors, laundered crawls, shared wire copy): q186's
      // winnow pairs rolled up per unordered source pair with pair
      // counts and shared-fingerprint mass; <= |sources|² rows.
      (s, d) => graft.operators.Dedup.winnowOverlapBySource(
        documents(s, d), "doc_id", "text", "source",
        k = 4, w = 8, minShared = 2)
        .orderBy("sa", "sb"),
      Some("""WITH w AS (SELECT doc_id, source, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 4 THEN len(w) - 2 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+3], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY 1), fp0 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) < 8 THEN [list_min(hs)] ELSE [list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)] END)) AS fp FROM hl), dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS d FROM fp0 GROUP BY 1), fpk AS MATERIALIZED (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN dfc ON fp0.fp = dfc.fp WHERE dfc.d BETWEEN 2 AND 64), pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared FROM fpk x JOIN fpk y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= 2), sp AS (SELECT LEAST(wa.source, wb.source) AS sa, GREATEST(wa.source, wb.source) AS sb, pr.n_shared FROM pr JOIN w wa ON pr.id_a = wa.doc_id JOIN w wb ON pr.id_b = wb.doc_id) SELECT sa, sb, COUNT(*) AS n_pairs, CAST(SUM(n_shared) AS BIGINT) AS n_shared_fps FROM sp GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q184_contamination_by_source",
      // Contamination MATRIX by source (Decontam.contaminationBySource):
      // per source, how many train docs overlap the eval set (any shared
      // trigram, the q67 convention) and the contaminated-docs rate in
      // exact-integer ppm — the "which crawl leaks the benchmark"
      // rollup read before re-crawling or dropping a source wholesale.
      // Broadcast eval-gram probe (train never shuffles for it), one
      // ≤ |sources| aggregate; fully deterministic and hash-gated.
      (s, d) => {
        val docs = documents(s, d)
        val ev = docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
          .select(col("doc_id"), col("text"))
        val tr = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
        graft.operators.Decontam.contaminationBySource(tr, ev,
          "doc_id", "text", "source", n = 3).orderBy("source")
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split_regex(text, ' +') AS w FROM documents), tr AS (SELECT * FROM w WHERE doc_id % 97 <> 0), eg AS (SELECT DISTINCT unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS gram FROM w WHERE doc_id % 97 = 0), tg AS (SELECT doc_id, source, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])) AS gram FROM tr), per AS (SELECT t.doc_id, ANY_VALUE(t.source) AS source, COUNT(*) AS n_grams, COUNT(eg.gram) AS n_overlap FROM tg t LEFT JOIN eg ON t.gram = eg.gram GROUP BY 1), fl AS (SELECT * FROM per WHERE n_overlap * 100 > 0 * n_grams), tot AS (SELECT source, COUNT(*) AS n_docs FROM tr GROUP BY 1), c AS (SELECT source, COUNT(*) AS n_contaminated, CAST(SUM(n_overlap) AS BIGINT) AS n_overlap_grams FROM fl GROUP BY 1) SELECT tot.source, tot.n_docs, COALESCE(c.n_contaminated, 0) AS n_contaminated, COALESCE(c.n_overlap_grams, 0) AS n_overlap_grams, CAST(COALESCE(c.n_contaminated, 0) * 1000000 // tot.n_docs AS BIGINT) AS contaminated_ppm FROM tot LEFT JOIN c ON tot.source = c.source ORDER BY tot.source""")),

    QueryDef("q181_span_profile",
      // Duplication PROFILE by source: what fraction of each source's
      // token mass sits inside duplicated spans — the "how much of this
      // crawl is boilerplate" diagnostic, <= |sources| rows of exact
      // integer counts + exact-integer-ppm rate. Same duplicated-gram
      // definition as q180, replayed end to end.
      (s, d) => graft.operators.Dedup.duplicatedSpanProfile(
        documents(s, d), "doc_id", "text", "source", k = 8)
        .orderBy("source"),
      Some("""WITH w AS (SELECT doc_id, source, string_split_regex(text, ' +') AS w FROM documents), o AS (SELECT doc_id, unnest(range(1, CASE WHEN len(w) >= 8 THEN len(w) - 6 ELSE 1 END)) AS i FROM w), g AS (SELECT o.doc_id, o.i, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(array_to_string(w.w[o.i:o.i+7], ' '), '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM o JOIN w ON o.doc_id = w.doc_id), d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), cov AS MATERIALIZED (SELECT DISTINCT g.doc_id, unnest(range(g.i, g.i + 8)) AS p FROM g JOIN d USING (h)), tot AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS n_tokens FROM w GROUP BY 1), dt AS (SELECT w.source, COUNT(*) AS n_dup_tokens FROM cov JOIN w ON cov.doc_id = w.doc_id GROUP BY 1) SELECT tot.source, tot.n_docs, tot.n_tokens, COALESCE(dt.n_dup_tokens, 0) AS n_dup_tokens, CAST(CASE WHEN tot.n_tokens = 0 THEN 0 ELSE COALESCE(dt.n_dup_tokens, 0) * 1000000 // tot.n_tokens END AS BIGINT) AS dup_ppm FROM tot LEFT JOIN dt ON tot.source = dt.source ORDER BY tot.source"""))
  )
}
