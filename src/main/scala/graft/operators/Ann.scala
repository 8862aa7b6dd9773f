package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.Checkpoints.StageOps
import graft.functions.VectorOps

/** Result row of the JIT brute-force kernel. Top-level and public:
  * whole-stage codegen instantiates it reflectively from generated code,
  * so a class nested in `object Ann` (or with private accessors) throws
  * CompileException and silently degrades every task to the interpreted
  * fallback path. */
case class ScoredNeighbor(query_id: Long, neighbor_id: Long, cosine: Double)

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star similarity ops; no counterpart in the reference).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. The probe set is broadcast
  *    (small by construction), the corpus side streams: one scan + one
  *    shuffle of only the per-partition top-k survivors (window over
  *    query_id after a broadcast join). Correctness baseline at any scale
  *    where "scan everything once" is acceptable.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus and probes are bucketed by
  *    a b-bit sign signature; only same-bucket (or Hamming<=r neighboring
  *    bucket) pairs are scored. Scan-heavy → bucket-join, the 100 TB path;
  *    recall traded via (numPlanes, probeRadius).
  */
object Ann {

  /** Exact cosine top-k: for every probe row (small DataFrame, broadcast),
    * the k nearest corpus rows. Output: (query_id, neighbor_id, cosine). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("pvec"))
    val scored = c.join(broadcast(p), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine(col("pvec"), col("cvec")).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k).drop("rank")
  }

  /** [[bruteForceTopK]], JIT-kernel form: broadcast probe matrix, primitive
    * float-array dot/norm loops inside `mapPartitions`, and a bounded
    * per-(partition, query) top-k heap so the shuffle carries at most
    * partitions × probes × k rows instead of corpus × probes. Interpreted
    * Catalyst higher-order folds cost ~100× a JIT'd while-loop on dense
    * numeric kernels — this is the one place `mapPartitions` beats
    * expressions (SURVEY §7.3 "last resort" clause, used deliberately).
    *
    * Accumulation order (index 0..d-1, double precision) matches the
    * left-fold of [[VectorOps.dot]] exactly → results are bit-identical to
    * the expression form and the DuckDB oracle. */
  def bruteForceTopKFast(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val probeArr: Array[(Long, Array[Float])] = probes
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(probeArr)
    val partial = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ps = bc.value
        // per-query bounded min-heaps (ordered worst-first for eviction)
        val heaps = scala.collection.mutable.Map.empty[Long,
          scala.collection.mutable.PriorityQueue[ScoredNeighbor]]
        // (-cosine, nid) natural order: greater tuple = lower cosine or
        // larger id = WORSE; PQ dequeues its max, so head is the worst kept
        implicit val worstFirst: Ordering[ScoredNeighbor] =
          Ordering.by[ScoredNeighbor, (Double, Long)](s => (-s.cosine, s.neighbor_id))
        it.foreach { case (nid, v) =>
          var pi = 0
          while (pi < ps.length) {
            val (qid, p) = ps(pi)
            if (qid != nid) {
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              while (i < v.length) {
                val x = p(i).toDouble; val y = v(i).toDouble
                dot += x * y; na += x * x; nb += y * y; i += 1
              }
              val denom = math.sqrt(na) * math.sqrt(nb)
              val c = if (denom > 0) dot / denom else 0.0
              val h = heaps.getOrElseUpdate(qid,
                new scala.collection.mutable.PriorityQueue[ScoredNeighbor]()(worstFirst))
              if (h.size < k) h.enqueue(ScoredNeighbor(qid, nid, c))
              else if (worstFirst.lt(ScoredNeighbor(qid, nid, c), h.head)) {
                // new candidate sorts BETTER than current worst (ordering is
                // worst-first): replace
                h.dequeue(); h.enqueue(ScoredNeighbor(qid, nid, c))
              }
            }
            pi += 1
          }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
    partial.toDF()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k).drop("rank")
  }

  /** Multi-table LSH approximate top-k (OR-amplification): `numTables`
    * independent sign-hash tables of `bitsPerTable` hyperplanes each; a
    * corpus row is a candidate for a probe if they share a bucket in ANY
    * table, optionally also within Hamming radius 1 of the probe's bucket.
    *
    * Single-table sign-LSH collapses on near-orthogonal data (p_bit ≈ 0.6 ⇒
    * p_bucket ≈ 0.6^b); OR-ing L tables lifts recall to 1−(1−p)^L while the
    * per-table bucket-join stays O(candidates), never O(N²).
    *
    * Defaults are tuned on the 64-dim fixture (recall ≈ 0.98 at 6 bits ×
    * 16 tables × radius 1 vs 0.66 at the old 8×8; measured by
    * [[graft.tools.LshSweep]]). Expected bucket size is N/2^bits, so at
    * larger corpus sizes raise `bitsPerTable` (+1 bit per doubling keeps
    * candidate volume constant) and compensate recall with more tables.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, bitsPerTable: Int = 6, numTables: Int = 16,
      probeRadius: Int = 1, dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(probeRadius <= 1, "radius 0 or 1")
    // Signatures are materialized as per-table COLUMNS before the bucket
    // array is built: a probe references each signature in 1 + bitsPerTable
    // XOR-variant entries, and Catalyst does not CSE across array elements —
    // inlining re-evaluated every signature per entry and (numTables ×
    // (1+bits) × bits dot loops) blew past janino's generated-method limit,
    // silently degrading the stage to interpreted. Column references keep
    // one HyperplaneSig evaluation per (row, table) and a small method
    // (CollapseProject leaves the sig Project alone: multi-use, non-cheap).
    val planesByTable = (0 until numTables)
      .map(t => VectorOps.randomPlanes(bitsPerTable, dim, seed + t))
    def withSigs(df: DataFrame, vc: String): DataFrame =
      planesByTable.zipWithIndex.foldLeft(df) { case (d, (planes, t)) =>
        d.withColumn(s"__sig$t", VectorOps.hyperplaneSignature(col(vc), planes))
      }
    // one bucket id per (table, bucket): table index in the high bits
    val corpusBuckets = (0 until numTables)
      .map(t => lit(t.toLong << 32) + col(s"__sig$t"))
    val probeBuckets = (0 until numTables).flatMap { t =>
      val base = lit(t.toLong << 32) + col(s"__sig$t")
      if (probeRadius == 1)
        base +: (0 until bitsPerTable).map(i =>
          lit(t.toLong << 32) + col(s"__sig$t").bitwiseXOR(lit(1L << i)))
      else Seq(base)
    }
    val c = withSigs(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cvec")), "cvec")
      .select(col("neighbor_id"), col("cvec"),
        explode(array(corpusBuckets: _*)).as("bucket"))
    val p = withSigs(probes.select(col(idCol).as("query_id"),
        col(vecCol).as("pvec")), "pvec")
      .select(col("query_id"), col("pvec"),
        explode(array(probeBuckets: _*)).as("bucket"))
    val scored = c.join(broadcast(p), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("pvec"), col("cvec"))
      .distinct() // dedupe candidates across tables BEFORE scoring
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine(col("pvec"), col("cvec")).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k).drop("rank")
  }

  /** IVF (inverted-file) approximate top-k — the clustered-data scale path
    * complementing [[lshTopK]] (sign-LSH is data-independent; IVF adapts to
    * the corpus distribution and is the standard ANN index shape for
    * real embedding corpora).
    *
    * Train: centroids seeded from the `numCentroids` lowest-id corpus
    * vectors (deterministic), refined by `lloydIters` distributed Lloyd
    * steps whose per-dimension sums go through exact decimals — so the
    * learned centroids are a pure function of the data, independent of
    * partitioning. Each step shuffles only (numCentroids × dim) partial
    * sums; the centroid matrix itself is a bounded driver object.
    *
    * Search: corpus rows get their nearest-centroid id from one fused
    * [[graft.functions.TopCentroids]] scan projection (the inverted lists
    * are just a hash partitioning by `cid`); probes explode their `nProbe`
    * nearest lists, the bucket join scores only corpus rows in probed lists
    * (expected fraction ≈ nProbe/numCentroids of the corpus), exact cosine
    * ranks survivors. Recall is high when the corpus is actually clustered
    * (PipelineSpec plants clusters); on uniform random vectors every
    * partition is equidistant and nProbe/numCentroids is the honest recall
    * expectation — same caveat the reference-free LSH path documents. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 64, nProbe: Int = 8,
      lloydIters: Int = 1): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids

    def topCentroidsCol(flat: Array[Double], nP: Int): Column =
      ColumnShim.column(TopCentroids(
        ColumnShim.expression(col(vecCol)), flat, numCentroids, nP))

    val vectors = requireIndexableVectors(corpus, idCol, vecCol, "ivfTopK")
    val flat = lloydCentroids(corpus, idCol, vecCol, numCentroids,
      lloydIters, "ivfTopK").flatten.toArray
    val c = vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      topCentroidsCol(flat, 1).getItem(0).as("cid"))
    val p = requireIndexableVectors(probes, idCol, vecCol, "ivfTopK")
      .select(col(idCol).as("query_id"), col(vecCol).as("pvec"),
      explode(topCentroidsCol(flat, nProbe)).as("cid"))
    val scored = c.join(broadcast(p), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine(col("pvec"), col("cvec")).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k).drop("rank")
  }

  /** [[ivfTopK]] with INT8-QUANTIZED candidate scoring — the IVF-PQ-
    * direction memory/bandwidth path: corpus and probe vectors are coded
    * once in the scan stage to per-vector-scaled int8 BINARY
    * ([[VectorOps.int8Code]] — one byte per component, a true 4× cut in
    * candidate row width vs float32; the quantization scales cancel in
    * the cosine so no scale column travels), candidates are scored with
    * the integer-dot [[VectorOps.int8Cosine]] kernel, and ranking happens
    * on the quantized score directly. Train/assign stages are unchanged
    * (full-precision Lloyd + [[graft.functions.TopCentroids]]). Quantized
    * cosine error on unit embeddings is ~1e-2, which reorders only
    * near-ties — q165 gates recall ≥ 0.75 against exact brute force, the
    * same floor as the full-precision q46. */
  def ivfTopKInt8(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 64, nProbe: Int = 8,
      lloydIters: Int = 1): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids

    def topCentroidsCol(flat: Array[Double], nP: Int): Column =
      ColumnShim.column(TopCentroids(
        ColumnShim.expression(col(vecCol)), flat, numCentroids, nP))

    val vectors = requireIndexableVectors(corpus, idCol, vecCol,
      "ivfTopKInt8")
    val flat = lloydCentroids(corpus, idCol, vecCol, numCentroids,
      lloydIters, "ivfTopKInt8").flatten.toArray
    val c = vectors.select(col(idCol).as("neighbor_id"),
      VectorOps.int8Code(col(vecCol)).as("ccode"),
      topCentroidsCol(flat, 1).getItem(0).as("cid"))
    val p = requireIndexableVectors(probes, idCol, vecCol, "ivfTopKInt8")
      .select(col(idCol).as("query_id"),
      VectorOps.int8Code(col(vecCol)).as("pcode"),
      explode(topCentroidsCol(flat, nProbe)).as("cid"))
    val scored = c.join(broadcast(p), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.int8Cosine(col("pcode"), col("ccode")).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k).drop("rank")
  }

  /** Write-side salt for the index corpus: rows are repartitioned on
    * (cid, hash(id) mod WriteSalt) before `partitionBy("cid")`, so each
    * inverted list is written by up to WriteSalt tasks instead of ONE.
    * A bare `repartition(col("cid"))` capped write parallelism at
    * numCentroids (64 tasks for a 100 TB corpus, with a hot-list
    * straggler and a >2 GiB-partition risk); the salt keeps the same
    * directory layout — pruning is untouched — while the write stage
    * runs at full cluster width. File count stays bounded at
    * ≤ numCentroids × WriteSalt. */
  private val WriteSalt = 8

  /** PERSISTED IVF index — the build-once / search-many production shape.
    * [[ivfTopK]] retrains and rescans the corpus per query batch; real
    * serving builds the index once and prunes at read time. Layout (v2,
    * generation-manifest):
    *
    *   `path/centroids`           — (cid, vec array<double>), numCentroids rows
    *   `path/corpus/cid=C/gen=G/` — inverted list C, generation G: each
    *                                list is its own directory, so a
    *                                search opens ONLY the probed lists'
    *                                live directories (pruning happens at
    *                                path-selection time — unprobed lists
    *                                are never even listed, let alone
    *                                footer-read)
    *   `path/_meta_<N>`           — the COMMIT MANIFEST: a `#codec` header
    *                                plus one `C G` line per live list;
    *                                readers take the highest N (and never
    *                                sniff a parquet footer for the codec)
    *   `path/blooms/c=C_g=G.bloom` — per-list id-bloom sidecar (raw
    *                                serialized bloom, ~2.4 bytes/id at
    *                                1e-4 fpp): maintenance discovery
    *                                probes these footer-sized files
    *                                instead of scanning every live
    *                                list's (id, cid) columns; optional —
    *                                a missing bloom makes its list an
    *                                unconditional discovery candidate
    *
    * Maintenance ops ([[deleteFromIvfIndex]] / [[upsertIntoIvfIndex]] /
    * [[compactIvfIndex]]) write the touched lists' new content into
    * FRESH `gen=` directories — never touching the files they read, so
    * the staging is durable parquet by construction (an executor loss
    * mid-rewrite just retries tasks; round-8 verdict item 2) — then
    * publish ONE new manifest (atomic create-via-rename; item 3), then
    * sweep superseded generations. A crash before the publish leaves the
    * OLD state fully live (the partial new dirs are unreferenced and
    * swept by the next op); a crash after it leaves only superseded dirs
    * to sweep. Search therefore sees either the whole old state or the
    * whole new state — never a delete-committed/append-pending gap.
    * SINGLE WRITER by contract (one maintenance op at a time, like any
    * file-format table without a lock service; a racing second writer
    * dies loudly on the manifest publish — see [[writeManifest]] for the
    * exists-check backstop and its per-filesystem residual race).
    * Readers are safe concurrently
    * up to the publish; the post-publish GC assumes no reader still
    * holds a pre-publish file list — pin generations (defer GC) if a
    * serving tier needs longer snapshots.
    *
    * `codec = "int8"` stores per-vector-scaled int8 codes
    * ([[VectorOps.int8Code]], column `code` BINARY) instead of the float
    * vectors — 4× narrower candidate bytes on the search read path (the
    * one place the measured exchange shrink becomes real I/O); search
    * detects the codec from the stored schema and scores with the
    * integer-dot [[VectorOps.int8Cosine]] kernel (same recall floor as
    * [[ivfTopKInt8]] — q165/q171 gate it). Default "float" keeps search
    * bit-identical to [[ivfTopK]].
    *
    * [[searchIvfIndex]] reads ≈ nProbe/numCentroids of the corpus bytes
    * and returns results IDENTICAL to [[ivfTopK]] with the same
    * centroids (AnnIndexSpec hash-asserts it): same TopCentroids
    * assignment, same cosine, same ranking. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 64, lloydIters: Int = 1,
      codec: String = "float"): Unit = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids
    require(codec == "float" || codec == "int8", s"unknown codec $codec")
    requireIntegralId(corpus, idCol, "buildIvfIndex")
    val spark = corpus.sparkSession
    val fs = hadoopFs(spark, path)
    // the lowest-id vector fixes the index's dimension
    val centroids = lloydCentroids(corpus, idCol, vecCol, numCentroids,
      lloydIters, "buildIvfIndex")
    val vectors = requireIndexableVectors(corpus, idCol, vecCol,
      "buildIvfIndex", Some(centroids.head.length))
    val flat = centroids.flatten.toArray
    val assign = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col(vecCol)), flat, numCentroids, 1)).getItem(0)
    val payload =
      if (codec == "int8") VectorOps.int8Code(col(vecCol)).as("code")
      else col(vecCol).as("vec")
    // EAGER local checkpoint (one materialization job BEFORE the two
    // staging jobs launch): the bloom pass re-reads these blocks instead
    // of reading the fresh corpus back from the index filesystem, and —
    // because the blocks are fully materialized first — the CONCURRENT
    // write and bloom consumers can never independently recompute a
    // nondeterministic source frame and diverge (divergence would plant
    // bloom FALSE NEGATIVES: silently wrong discovery). A lazy
    // checkpoint is NOT enough in distributed mode: lineage truncates
    // only at first materialization, and Spark's get-or-compute caching
    // does not globally serialize concurrent computes of one partition
    // across executors — two racing first-consumers could each compute
    // it (round-11 ADVICE). Losing a materialized block fails the op
    // loudly (retry-the-batch, the same acceptance as upsert's
    // checkpointed assignment).
    // TRANSIENT STORAGE (round-11 ADVICE): the checkpoint pins the full
    // (id, payload, cid) batch — for a build, ~1× the index payload —
    // in executor memory-and-disk for the op's duration; the `finally`
    // releases it the moment staging settles, so back-to-back
    // maintenance ops never stack staging generations in cluster
    // storage (stacked frames also shifted suite-wide GC in the r11
    // bench — see PLANS.md round-12 notes).
    // Staged before the reset: staging reads every vector, so a refused
    // one fails the build while an existing index stays intact.
    val content = vectors.select(col(idCol).as("id"), payload,
        assign.as("cid"))
      .staged
    try {
      // full reset, manifests FIRST: with no manifest the path reads as
      // "not built", so a crash anywhere inside a rebuild is retried as a
      // rebuild (idempotent overwrite) instead of upserting over rubble
      listManifests(fs, path).foreach(m =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$m"), false))
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/corpus"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/blooms"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids"), true)
      writeCentroids(spark, path, 0L, centroids)
      stageConcurrently(
        write = content
          .withColumn("gen", lit(0L))
          .repartition(col("cid"),
            pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
          .write.partitionBy("cid", "gen").mode("overwrite")
          .parquet(s"$path/corpus"),
        blooms = writeListBlooms(spark, path, 0L,
          content.select("id", "cid")))
      // manifest = the lists that actually materialized (bounded listing)
      val materialized = listCidDirs(fs, path)
      writeManifest(spark, path,
        IndexMeta(0L, materialized.map(_ -> 0L).toMap, codec, 0L))
    } finally graft.Checkpoints.release(content)
  }

  // ---- generation-manifest plumbing (shared by every persisted-index op)

  private val MetaPrefix = "_meta_"

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def listManifests(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(MetaPrefix) &&
        n.stripPrefix(MetaPrefix).nonEmpty &&
        n.stripPrefix(MetaPrefix).forall(_.isDigit))
  }

  /** Does a committed [[buildIvfIndex]] index live at `path`? True iff a
    * commit manifest exists — centroid or corpus files alone are a
    * crashed build (its retry must rebuild, not upsert). */
  def indexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    listManifests(hadoopFs(spark, path), path).nonEmpty

  /** Parsed commit manifest: number, cid → live generation, and the
    * stored payload codec (recorded at build time so no op has to sniff
    * a parquet footer to learn it). */
  private[graft] final case class IndexMeta(gen: Long, gens: Map[Int, Long],
      codec: String, centGen: Long) {
    def int8: Boolean = codec == "int8"
  }

  /** Highest committed manifest at `path`. Fails fast — never reads
    * rubble as an empty index. A concurrent writer's post-publish sweep
    * can delete the manifest between our listing and the open (the
    * list-then-open race): on FileNotFoundException the listing is
    * simply retried — the new max-n manifest is guaranteed to exist, so
    * a bounded retry always lands on a complete committed manifest. */
  private[graft] def readManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexMeta = {
    var lastFnf: java.io.FileNotFoundException = null
    (0 until 5).foreach { _ =>
      try return readManifestOnce(spark, path)
      catch { case e: java.io.FileNotFoundException => lastFnf = e }
    }
    throw new IllegalStateException(
      s"IVF manifest under $path vanished 5 times between list and open — " +
        "more concurrent maintenance churn than the single-writer " +
        "contract allows", lastFnf)
  }

  private def readManifestOnce(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexMeta = {
    val fs = hadoopFs(spark, path)
    val metas = listManifests(fs, path)
    if (metas.isEmpty) throw new IllegalStateException(
      s"no IVF index manifest (_meta_<n>) under $path: either nothing was " +
        "built here, a first build crashed before committing (rebuild it), " +
        "or this is a pre-manifest flat layout (rebuild with the current " +
        "buildIvfIndex rather than silently guessing which files are live)")
    val n = metas.map(_.stripPrefix(MetaPrefix).toLong).max
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/$MetaPrefix$n"))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    val codec = lines.collectFirst {
      case l if l.startsWith("#codec ") => l.stripPrefix("#codec ") }
      .getOrElse("float")
    val centGen = lines.collectFirst {
      case l if l.startsWith("#centroids ") =>
        l.stripPrefix("#centroids ").toLong }
      .getOrElse(0L)
    val gens = lines.filterNot(_.startsWith("#"))
      .map { line =>
        val parts = line.split(" ")
        parts(0).toInt -> parts(1).toLong
      }.toMap
    IndexMeta(n, gens, codec, centGen)
  }

  /** Publish manifest `metaGen`: write to a dot-temp (invisible to
    * readers), rename into place — a CREATE of the final name, so a
    * reader sees the old max-n manifest or the complete new one, never a
    * partial file, and a racing second writer dies HERE, loudly, instead
    * of corrupting state. The destination is existence-checked before the
    * rename because rename-onto-existing is NOT uniformly a failure
    * across filesystems: HDFS rejects it, but RawLocalFileSystem (file://)
    * delegates to POSIX rename(2), which silently REPLACES the
    * destination — without the check a lost race would "succeed" and the
    * two writers would then GC each other's live generations. Residual
    * race: between the exists-check and the rename a concurrent writer
    * can still land the same name on local FS (check-then-act window);
    * on HDFS the rename itself is atomic and closes it. The guard is a
    * BACKSTOP for a violated single-writer contract, not a lock service —
    * serialize maintenance ops (or front them with a real lock) if two
    * writers are possible at all. Superseded manifests are swept after
    * the publish. */
  private[graft] def writeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta): Unit = {
    val fs = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.meta_tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((Seq(s"#codec ${meta.codec}",
      s"#centroids ${meta.centGen}") ++ meta.gens.toSeq.sorted
      .map { case (c, g) => s"$c $g" }).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val metaGen = meta.gen
    val dest = new org.apache.hadoop.fs.Path(s"$path/$MetaPrefix$metaGen")
    def lostRace(): Nothing = {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"manifest commit lost a race: $dest " +
        "already exists — a concurrent maintenance op published this " +
        "generation first, violating the single-writer contract. This op " +
        "made no live-state change; its staging will be swept by the next " +
        "op's GC. Re-read the index and re-apply the operation against the " +
        "new current generation (retry-with-rebase).")
    }
    if (fs.exists(dest)) lostRace()
    if (!fs.rename(tmp, dest)) lostRace()
    listManifests(fs, path)
      .filter(_.stripPrefix(MetaPrefix).toLong < metaGen)
      .foreach(m =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$m"), false))
  }

  private def listCidDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Int] = {
    val cp = new org.apache.hadoop.fs.Path(s"$path/corpus")
    if (!fs.exists(cp)) Nil
    else fs.listStatus(cp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .map(_.getPath.getName.stripPrefix("cid=").toInt)
  }

  private def liveListDir(path: String, cid: Int, gen: Long): String =
    s"$path/corpus/cid=$cid/gen=$gen"

  /** The data files of one list directory, as Spark's own listing keeps
    * them (no `_SUCCESS`, `.crc` or in-flight copies): one driver
    * `listStatus`. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).filter(st => st.isFile &&
      org.apache.spark.sql.graftshim.FileIndexShim
        .isDataFileName(st.getPath.getName))

  // ---- per-list id-bloom sidecars (maintenance-discovery acceleration)

  /** False-positive rate for the per-list id blooms. A false positive
    * only widens the candidate-list set the EXACT discovery join then
    * reads — never a wrong result. Sized aggressively low because a
    * list is a candidate if ANY batch id false-positives against it:
    * per-list hit probability ≈ batchSize × fpp, so at 1e-4 a 300-id
    * takedown over 2¹⁶ lists reads ~3% of them instead of ~95% at the
    * textbook 1%. Cost: ~2.4 bytes/id instead of ~1.2. */
  private val BloomFpp = 1e-4

  /** Driver budget for holding every live list's bloom at once — the
    * ZERO-JOB fast path of [[bloomCandidateCids]] (sidecars read and
    * probed entirely on the driver). At 1e-4 fpp a bloom is ~2.4 bytes
    * per id, so this covers ~25 M indexed ids; past it discovery does
    * NOT fall back to the full (id, cid) scan (the round-10 seam: the
    * budget tripped exactly at the scale the blooms were built for) —
    * it flips to the executor-side probe, which broadcasts the id batch
    * and opens each list's sidecar in the task that probes it, bounded
    * at ANY index size. */
  private val BloomDriverBudgetBytes = 64L << 20

  /** Test/probe visibility for the default driver budget (the specs and
    * MaintProbe exercise both probe legs by pinning the budget). */
  private[graft] def bloomCandidateCidsDefaultBudget: Long =
    BloomDriverBudgetBytes

  /** Largest sidecar accepted as a bloom. A bit-corrupted (not merely
    * truncated) file can carry a garbage word count that makes
    * BloomFilter.readFrom allocate gigabytes before failing; anything
    * over this bound reads as MISSING (unconditional candidate), never
    * as an allocation. 256 MB ≈ a 100 M-id list at 1e-4 fpp — far past
    * any sane per-list size. */
  private val MaxSidecarBytes = 256L << 20

  /** Largest id batch the executor-side probe will broadcast (16 MB of
    * longs). A maintenance batch past this touches essentially every
    * list anyway, so bloom discovery cannot narrow it — the full
    * (id, cid) scan is the right plan and the caller falls back. */
  private val ExecProbeMaxIds = 2000000

  /** One raw serialized bloom per (list, generation) — NOT parquet: the
    * sidecars are written straight from executors and read straight from
    * the driver, so maintaining them adds ONE Spark job per op and
    * reading them adds none. */
  private def bloomFile(path: String, cid: Int, gen: Long): String =
    s"$path/blooms/c=${cid}_g=$gen.bloom"

  /** Stage the corpus write and the sidecar build CONCURRENTLY: both
    * consume the same checkpointed pre-write frame and both are invisible
    * until the manifest publish, so their order cannot matter — running
    * them on two threads makes the bloom build cost max(write, blooms)
    * wall instead of write + blooms (round-10 measured the serial bloom
    * job as most of a +45% maintenance-cycle regression; at toy scale
    * every op is job-overhead-bound, so one overlapped job IS the
    * cycle's margin). A failure on either side surfaces after both
    * settle (write's error wins), and a half-staged crash leaves only
    * unreferenced files for the next op's GC — the same guarantee as
    * the serial order. */
  private def stageConcurrently(write: => Unit, blooms: => Unit): Unit = {
    // a FRESH thread, not ExecutionContext.global: Spark's job-local
    // properties (job group, description, scheduler pool) live in
    // InheritableThreadLocals, which copy at THREAD CREATION — a pooled
    // EC thread created earlier carries stale/empty properties, so
    // cancelJobGroup would miss the bloom job and job-group-scoped
    // accounting would mis-attribute its stages. One short-lived thread
    // per maintenance op is noise.
    @volatile var bloomErr: Throwable = null
    val t = new Thread(() =>
      try blooms catch { case e: Throwable => bloomErr = e },
      "graft-bloom-stage")
    t.setDaemon(true)
    t.start()
    try write finally t.join()
    if (bloomErr != null) throw bloomErr
  }

  /** Write one id-bloom per inverted list present in `source` at `gen`.
    *
    * `source` is the exact (id, cid) content the caller stages for this
    * generation — persisted or checkpointed by the caller, so this pass
    * consumes the cache instead of reading the fresh parquet BACK from
    * the (possibly remote) index filesystem (round 10 built blooms
    * exclusively from read-back and measured it as most of a +45%
    * maintenance-cycle / +35% build regression). The guarantee is
    * unchanged — bloom content ≡ disk content — because the write job
    * consumes the SAME frame. Contract: `source` must hold exactly the
    * rows written for `gen` (pre-filtered by the caller when the
    * written batch spans other generations, e.g. append).
    *
    * Sidecars ride the same generation staging discipline as the lists:
    * invisible until a manifest references the generation, swept by
    * [[gcStaleGens]] with it. ONE job: the ids shuffle 16 bytes/row to
    * co-locate each list and sort cid-major inside each partition, so
    * every task streams one list at a time — flush on cid change —
    * buffering exactly ONE list's ids (8 bytes/id) even when several
    * lists hash into the same shuffle partition (round-10 ADVICE: the
    * unsorted writer buffered every colliding list at once). Bloom
    * files land tmp + rename; a torn file from a dying executor
    * deserializes as missing → unconditional-candidate fallback. */
  private def writeListBlooms(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long, source: DataFrame): Unit = {
    val ids: DataFrame = source
      .select(col("id").cast("long").as("id"),
        col("cid").cast("int").as("cid"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val fpp = BloomFpp
    import spark.implicits._
    ids.repartition(col("cid")).sortWithinPartitions(col("cid"))
      .as[(Long, Int)].foreachPartition {
      (it: Iterator[(Long, Int)]) =>
        var pfs: org.apache.hadoop.fs.FileSystem = null
        var curCid = 0
        var buf: scala.collection.mutable.ArrayBuilder.ofLong = null
        def flush(): Unit = if (buf != null) {
          val arr = buf.result()
          buf = null
          if (pfs == null) {
            pfs = new org.apache.hadoop.fs.Path(s"$path/blooms")
              .getFileSystem(conf.value)
            pfs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/blooms")): Unit
          }
          val bloom = org.apache.spark.util.sketch.BloomFilter.create(
            math.max(arr.length, 1).toLong, fpp)
          var i = 0
          while (i < arr.length) { bloom.putLong(arr(i)): Unit; i += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          val tmp = new org.apache.hadoop.fs.Path(
            s"$path/blooms/.tmp_${java.util.UUID.randomUUID()}")
          val out = pfs.create(tmp, true)
          try out.write(bos.toByteArray) finally out.close()
          val dest = new org.apache.hadoop.fs.Path(
            bloomFile(path, curCid, gen))
          pfs.delete(dest, false) // retried/speculative task: last wins
          if (!pfs.rename(tmp, dest)) pfs.delete(tmp, false): Unit
        }
        it.foreach { case (id, cid) =>
          if (buf == null || cid != curCid) {
            flush()
            curCid = cid
            buf = new scala.collection.mutable.ArrayBuilder.ofLong
          }
          buf += id
        }
        flush()
    }
  }

  /** Delete the bloom sidecar of each given LIVE list (plain append
    * mutates a live generation in place, after which its bloom would
    * have false negatives — a missing bloom just makes the list an
    * unconditional discovery candidate, which is always safe). */
  private def dropListBlooms(spark: org.apache.spark.sql.SparkSession,
      path: String, gens: Map[Int, Long], cids: Seq[Int]): Unit = {
    val fs = hadoopFs(spark, path)
    cids.foreach { c =>
      gens.get(c).foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(bloomFile(path, c, g)), false)
      }
    }
  }

  /** Read one sidecar fully and deserialize it, or None for ANY
    * malformed state — absent, torn, over [[MaxSidecarBytes]], or
    * bit-corrupted such that readFrom throws (including the
    * NegativeArraySizeException / huge-allocation class a garbage word
    * count produces — hence NonFatal, not just IOException; round-10
    * ADVICE). A malformed sidecar reads as missing, never as wrong. */
  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, len: Long)
      : Option[(Array[Byte], org.apache.spark.util.sketch.BloomFilter)] =
    try {
      if (len <= 0 || len > MaxSidecarBytes) None
      else {
        val in = fs.open(p)
        val bytes = new Array[Byte](len.toInt)
        try in.readFully(bytes) finally in.close()
        // raw bytes returned WITH the filter so the broadcast leg can
        // ship what was already read instead of re-serializing
        Some((bytes, org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Which live lists MIGHT contain any of `ids` (single long column),
    * resolved from the per-list bloom sidecars: a SUPERSET of the true
    * touched set (bloom fpp widens it, never narrows), with bloom-less
    * live lists always included — so the exact discovery join that runs
    * next over just these lists returns the same answer as a full-index
    * scan. Returns None only when blooms cannot accelerate AT ALL: no
    * sidecar exists, or the id batch itself is past [[ExecProbeMaxIds]]
    * while the sidecars are past the driver budget (a batch that large
    * touches essentially every list — the full scan is the right plan).
    * The caller then falls back to scanning all live lists' (id, cid)
    * columns, the pre-bloom behavior.
    *
    * Three probe legs, in cost order:
    *  1. sidecar bytes ≤ `driverBudgetBytes` AND batch ≤ 100 k ids:
    *     everything on the driver — ZERO Spark jobs for discovery.
    *  2. sidecar bytes ≤ budget, batch larger: broadcast the blooms,
    *     one distributed probe job over the id frame.
    *  3. sidecar bytes OVER budget (the 100 TB posture — round-10
    *     verdict item 1 retired the fallback-to-full-scan here):
    *     broadcast the id batch (small by the maintenance contract,
    *     bounded at [[ExecProbeMaxIds]]) and open each list's sidecar
    *     IN THE TASK that probes it — driver memory bounded by the id
    *     batch, never by index size; discovery I/O one footer-sized
    *     sidecar per list, spread across executors.
    *
    * A torn/corrupt/oversized sidecar reads as missing on every leg,
    * never as wrong ([[readSidecar]]). */
  private[graft] def bloomCandidateCids(
      spark: org.apache.spark.sql.SparkSession, path: String,
      gens: Map[Int, Long], ids: DataFrame,
      driverBudgetBytes: Long = BloomDriverBudgetBytes): Option[Seq[Int]] = {
    if (gens.isEmpty) return Some(Nil)
    val fs = hadoopFs(spark, path)
    // ONE listing of the sidecar dir resolves every live list's sidecar
    // length (vs a stat RPC per list) — the same name-parse as the GC
    val bp = new org.apache.hadoop.fs.Path(s"$path/blooms")
    val lens: Map[Int, Long] =
      if (!fs.exists(bp)) Map.empty
      else fs.listStatus(bp).iterator.filter(_.isFile).flatMap { e =>
        val n = e.getPath.getName
        if (!(n.startsWith("c=") && n.endsWith(".bloom"))) Iterator.empty
        else n.stripPrefix("c=").stripSuffix(".bloom").split("_g=") match {
          case Array(c, g) if c.forall(_.isDigit) && g.forall(_.isDigit) &&
              gens.get(c.toInt).contains(g.toLong) =>
            Iterator(c.toInt -> e.getLen)
          case _ => Iterator.empty
        }
      }.toMap
    if (lens.isEmpty) return None // no sidecar at all: blooms can't help
    val missing = (gens.keySet -- lens.keySet).toSeq
    import spark.implicits._
    val idCol = ids.schema.fieldNames.head
    val idFrame = ids.select(col(idCol).cast("long")).as[Long]
    def probe(it: Iterator[Long],
        blooms: Array[(Int, org.apache.spark.util.sketch.BloomFilter)])
        : Iterator[Int] = {
      val n = blooms.length
      val hit = new Array[Boolean](n)
      var remaining = n
      while (it.hasNext && remaining > 0) {
        val id = it.next()
        var i = 0
        while (i < n && remaining > 0) {
          if (!hit(i) && blooms(i)._2.mightContainLong(id)) {
            hit(i) = true; remaining -= 1
          }
          i += 1
        }
      }
      blooms.iterator.zipWithIndex
        .collect { case ((c, _), i) if hit(i) => c }
    }
    // typical maintenance batches (takedowns, recrawl slices) are small:
    // one bounded collect sizes the batch and feeds the driver-side legs
    val DriverProbeMaxIds = 100000
    // sized for the common case: legs 1/2 only need to know whether the
    // batch clears 100 k; the larger executor-leg head is collected only
    // when that leg is actually taken
    val head = idFrame.limit(DriverProbeMaxIds + 1).collect()
    val underBudget = lens.valuesIterator.sum <= driverBudgetBytes
    if (underBudget) {
      // sidecars fit on the driver: read them here (leg 1/2); a
      // malformed one degrades to an unconditional candidate
      val loaded = lens.toSeq.map { case (c, len) =>
        c -> readSidecar(fs,
          new org.apache.hadoop.fs.Path(bloomFile(path, c, gens(c))), len)
      }
      val blooms = loaded.collect { case (c, Some((_, b))) => c -> b }.toArray
      val corrupt = loaded.collect { case (c, None) => c }
      val hits =
        if (blooms.isEmpty) Array.empty[Int]
        else if (head.length <= DriverProbeMaxIds)
          probe(head.iterator, blooms).toArray // leg 1: zero Spark jobs
        else { // leg 2: broadcast blooms, one probe job over the ids
          // ship the raw sidecar bytes already read — no re-serialize
          val ser = loaded.collect { case (c, Some((bytes, _))) =>
            c -> bytes }.toArray
          val bc = spark.sparkContext.broadcast(ser)
          // destroyed after the collect: repeated maintenance cycles in
          // a long-lived session must not accumulate broadcast blocks
          // on the driver and executors (round-11 ADVICE)
          try idFrame.mapPartitions { it =>
            val des = bc.value.map { case (c, bytes) =>
              c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bytes))
            }
            probe(it, des)
          }.distinct().collect()
          finally bc.destroy()
        }
      Some((hits.toSeq ++ corrupt ++ missing).distinct.sorted)
    } else {
      val fullHead =
        if (head.length <= DriverProbeMaxIds) head
        else idFrame.limit(ExecProbeMaxIds + 1).collect()
      if (fullHead.length > ExecProbeMaxIds)
        return None // huge batch AND huge index: full scan is the right plan
      // leg 3: executor-side probe — broadcast the (small) id batch and
      // open each sidecar in the task that probes it. Driver holds the
      // batch and the hit cids, never the blooms.
      val idBc = spark.sparkContext.broadcast(fullHead)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val work = lens.toSeq.map { case (c, len) =>
        (c, gens(c), len) }
      val slices = math.min(work.size,
        math.max(spark.sparkContext.defaultParallelism, 1))
      // batch broadcast destroyed after the collect — same
      // no-accumulation contract as leg 2 (round-11 ADVICE)
      val hits =
        try spark.sparkContext.parallelize(work, slices)
          .mapPartitions { it =>
            val pfs = new org.apache.hadoop.fs.Path(s"$path/blooms")
              .getFileSystem(conf.value)
            val batch = idBc.value
            it.flatMap { case (c, g, len) =>
              readSidecar(pfs,
                new org.apache.hadoop.fs.Path(bloomFile(path, c, g)), len)
              match {
                case None => Iterator(c) // malformed → unconditional candidate
                case Some((_, b)) =>
                  var i = 0
                  var hit = false
                  while (i < batch.length && !hit) {
                    hit = b.mightContainLong(batch(i)); i += 1
                  }
                  if (hit) Iterator(c) else Iterator.empty
              }
            }
          }.collect()
        finally idBc.destroy()
      Some((hits.toSeq ++ missing).distinct.sorted)
    }
  }

  /** Sweep every corpus, bloom-sidecar and centroid directory the
    * manifest does not reference: superseded generations after a
    * publish, partial generations left by a crashed op (which never
    * published), and cid dirs with no live generation (fully-deleted
    * lists). Bounded driver work: ≤ numCentroids × a few listings. */
  private def gcStaleGens(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta): Unit = {
    val gens = meta.gens
    val fs = hadoopFs(spark, path)
    val centp = new org.apache.hadoop.fs.Path(s"$path/centroids")
    if (fs.exists(centp)) fs.listStatus(centp).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("gen="))
      .filter(_.getPath.getName.stripPrefix("gen=").toLong != meta.centGen)
      .foreach(e => fs.delete(e.getPath, true))
    val bp = new org.apache.hadoop.fs.Path(s"$path/blooms")
    if (fs.exists(bp)) fs.listStatus(bp).toSeq
      .filter(_.isFile)
      .filter { e =>
        val n = e.getPath.getName
        // live sidecar = exactly c=<cid>_g=<liveGen>.bloom; anything
        // else in OUR private dir (crashed tmp, unparseable stray) is
        // swept rather than crashing the GC on a malformed name
        val live = n.startsWith("c=") && n.endsWith(".bloom") && {
          n.stripPrefix("c=").stripSuffix(".bloom").split("_g=") match {
            case Array(c, g) if c.forall(_.isDigit) && g.forall(_.isDigit) =>
              gens.get(c.toInt).contains(g.toLong)
            case _ => false
          }
        }
        !live
      }
      .foreach(e => fs.delete(e.getPath, false))
    val cp = new org.apache.hadoop.fs.Path(s"$path/corpus")
    if (!fs.exists(cp)) return
    fs.listStatus(cp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .foreach { st =>
        val c = st.getPath.getName.stripPrefix("cid=").toInt
        gens.get(c) match {
          case None => fs.delete(st.getPath, true)
          case Some(g) =>
            fs.listStatus(st.getPath).toSeq
              .filter(e => e.isDirectory &&
                e.getPath.getName.startsWith("gen="))
              .filter(_.getPath.getName.stripPrefix("gen=").toLong != g)
              .foreach(e => fs.delete(e.getPath, true))
        }
      }
  }

  /** Live rows of the persisted index as (id, vec|code, cid), resolved
    * through the commit manifest; optionally scoped to `cids` — the
    * unselected lists are never listed, let alone footer-read. THE read
    * path for the index corpus: a naive `spark.read.parquet(corpus)` at
    * rest happens to see only live generations (GC keeps disk = live),
    * but DURING a maintenance op it would read freshly-staged
    * uncommitted generations — always come through here. */
  def readIndexCorpus(spark: org.apache.spark.sql.SparkSession, path: String,
      cids: Option[Seq[Int]] = None): DataFrame = {
    readLists(spark, path, readManifest(spark, path).gens, cids)
  }

  /** Partition columns of the corpus layout `cid=C/gen=G`. */
  private val ListPartitionSchema = StructType(Seq(
    StructField("cid", IntegerType), StructField("gen", LongType)))

  /** The selected live lists as one parquet scan, built from the manifest
    * with NO Spark listing or schema-inference job:
    *  - each selected live dir is listed on the driver, one `listStatus`
    *    per dir — the calls Spark's own listing makes, which past
    *    `parallelPartitionDiscovery.threshold` (32) dirs it runs as a
    *    distributed job of one task per dir;
    *  - the data schema is the Spark row-metadata footer of the first
    *    (by path) listed file — the footer Spark's inference reads with
    *    `mergeSchema` off, read here on the driver instead of in a job;
    *  - Spark gets those listings plus the explicit `(cid, gen)`
    *    partition spec, so `cid` filters still prune at planning time.
    * The driver listing is per call, never cached across calls:
    * [[appendToIvfIndex]] adds files to live dirs without a manifest
    * bump, so a cached listing would hide appended rows. */
  private def readLists(spark: org.apache.spark.sql.SparkSession,
      path: String, gens: Map[Int, Long],
      cids: Option[Seq[Int]]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.graftshim.FileIndexShim
    require(gens.nonEmpty, s"IVF index at $path has no live lists " +
      "(everything was deleted) — rebuild it")
    val selected = cids match {
      case Some(cs) => cs.filter(gens.contains).map(c => c -> gens(c))
      case None => gens.toSeq
    }
    val fs = hadoopFs(spark, path)
    def listDir(c: Int, g: Long): (Seq[Any], Path, Array[FileStatus]) = {
      val dir = fs.makeQualified(new Path(liveListDir(path, c, g)))
      (Seq[Any](c, g), dir, listDataFiles(fs, dir))
    }
    def dataSchema(dirs: Seq[(Seq[Any], Path, Array[FileStatus])]) =
      FileIndexShim.parquetFooterSchema(spark,
        dirs.flatMap(_._3).minByOption(_.getPath.toString).getOrElse(
          throw new IllegalStateException(
            s"IVF index at $path: live lists ${dirs.map(_._2)} hold no data files")))
    val dirs = selected.map { case (c, g) => listDir(c, g) }
    // an empty selection scans no dir; its schema still comes from one
    // live file, because the id and payload types are the caller's
    val schema = dataSchema(
      if (dirs.nonEmpty) dirs else Seq((listDir _).tupled(gens.minBy(_._1))))
    FileIndexShim.listedParquet(spark, ListPartitionSchema, schema, dirs)
      .drop("gen")
  }

  /** Shared publish step for the rewrite ops: resolve which touched
    * lists materialized a `gen=newGen` directory (an all-rows-removed
    * list writes nothing), publish the manifest, sweep superseded and
    * emptied generations. Returns the new live map. */
  private def commitRewrite(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta, touched: Seq[Int],
      newGen: Long): Map[Int, Long] = {
    val fs = hadoopFs(spark, path)
    val materialized = touched.filter(c => fs.exists(
      new org.apache.hadoop.fs.Path(liveListDir(path, c, newGen))))
    val newGens = (meta.gens -- touched) ++ materialized.map(_ -> newGen)
    val newMeta = meta.copy(gen = newGen, gens = newGens)
    writeManifest(spark, path, newMeta)
    gcStaleGens(spark, path, newMeta)
    newGens
  }

  /** Append new vectors to an existing [[buildIvfIndex]] index WITHOUT
    * retraining: assign against the SAVED centroids and add files inside
    * the matching live list directories (the standard serving practice —
    * crawl drops land incrementally, centroid retraining is an offline
    * cadence decision). Search afterwards sees old∪new with the same
    * pruning. Plain append is ADDITIVE, not atomic (a crash can leave a
    * prefix of the batch visible; redelivery then duplicates it) — use
    * [[upsertIntoIvfIndex]] when the producer is at-least-once. Drift
    * caveat: appended mass shifts the true centroids, so recall on the
    * appendix degrades as its distribution diverges from the training
    * corpus — the caller's rebuild-cadence knob, same contract as
    * [[Dedup.segmentDedupIncremental]]'s index refresh. */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids
    requireIntegralId(newVecs, idCol, "appendToIvfIndex")
    val spark = newVecs.sparkSession
    val meta = readManifest(spark, path)
    val (metaGen, gens) = (meta.gen, meta.gens)
    // sweep crashed-op staging FIRST — `appeared` below is derived from
    // a disk listing, and a crashed op's staged gen is exactly
    // metaGen+1, so skipping the sweep would PUBLISH its partial rows
    // as live data (resurrected deletes, duplicated neighbors)
    gcStaleGens(spark, path, meta)
    val (flat, numCentroids, dim) = loadCentroids(spark, path, meta)
    val vectors = requireIndexableVectors(newVecs, idCol, vecCol,
      "appendToIvfIndex", Some(dim))
    // codec is a property of the existing index: appended rows must match
    val int8 = meta.int8
    val assign = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col(vecCol)), flat, numCentroids, 1)).getItem(0)
    val payload =
      if (int8) VectorOps.int8Code(col(vecCol)).as("code")
      else col(vecCol).as("vec")
    // rows for live lists land in the live gen dir; rows for lists with
    // no live dir open a fresh generation, published below. A fully
    // emptied index (every row deleted — the manifest is live with an
    // empty gens map) takes the fresh-generation leg for every row: the
    // append is then a pure insert publishing a fresh manifest instead
    // of wedging on the empty live map (round-9 ADVICE).
    val newGen = metaGen + 1
    val genCol =
      if (gens.isEmpty) lit(newGen)
      else coalesce(element_at(map(gens.toSeq.flatMap { case (c, g) =>
        Seq(lit(c), lit(g)) }: _*), col("cid")), lit(newGen))
    // assigned once (eager checkpoint): the touched-cid collect below and
    // the content write both consume this frame
    val assigned = vectors.select(col(idCol).as("id"), payload,
      assign.as("cid")).staged
    try {
    val batchCids = assigned.select(col("cid")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ numCentroids
    // in-place appends invalidate the touched live lists' bloom sidecars
    // (the old bloom would have false negatives for the new ids) — drop
    // them BEFORE the row write, so a crash leaves no stale bloom; a
    // missing bloom just makes the list an unconditional discovery
    // candidate until the next rewrite op refreshes it
    dropListBlooms(spark, path, gens, batchCids.filter(gens.contains).toSeq)
    def writeRows(): Unit = assigned
      .withColumn("gen", genCol)
      .repartition(col("cid"),
        pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
      .write.partitionBy("cid", "gen").mode("append").parquet(s"$path/corpus")
    // fresh lists are known BEFORE the write (every batch cid
    // materializes a dir, and the pre-write GC swept any stray dir not
    // in the live map — so batchCids ∖ gens ≡ the post-write listing the
    // old code derived this from), which lets the sidecar build overlap
    // the row write. Source = the checkpointed batch scoped to the
    // fresh lists (rows routed to LIVE generations are excluded — their
    // blooms were dropped above, not rewritten).
    val appeared = batchCids.filterNot(gens.contains).toSeq.sorted
    if (appeared.isEmpty) writeRows()
    else {
      stageConcurrently(
        write = writeRows(),
        blooms = writeListBlooms(spark, path, newGen,
          assigned.filter(col("cid").isin(appeared: _*))
            .select("id", "cid")))
      writeManifest(spark, path,
        meta.copy(gen = newGen, gens = gens ++ appeared.map(_ -> newGen)))
    }
    } finally graft.Checkpoints.release(assigned)
  }

  /** `df` with `vecCol` refused, naming `op` and the row's id, wherever a
    * vector is null, has a NaN component or, when the index's `dim` is
    * given, has another number of components. A NaN scores NaN against
    * every centroid, so [[graft.functions.TopCentroids]] finds no nearest
    * list; a null vector has no list at all; a vector of another length
    * has no distance to the centroids. The check is a projection: it runs
    * in the first pass that reads the vectors and adds no job. Spark
    * orders NaN above every number, so `array_max` is NaN exactly when a
    * component is. */
  private def requireIndexableVectors(df: DataFrame, idCol: String,
      vecCol: String, op: String, dim: Option[Int] = None): DataFrame = {
    val v = col(vecCol)
    val fault = dim.foldLeft(when(v.isNull, lit("is null"))
        .when(isnan(array_max(v)), lit("has a NaN component"))) { (f, d) =>
      f.when(size(v) =!= d, concat(lit("has "), size(v).cast("string"),
        lit(s" components where the index has $d")))
    }
    df.withColumn(vecCol, when(fault.isNotNull,
      raise_error(concat(lit(s"$op: the vector of id "),
        coalesce(col(idCol).cast("string"), lit("null")),
        lit(s" in column '$vecCol' "), fault,
        lit("; an IVF index cannot place it in any list")))).otherwise(v))
  }

  /** Fail loudly when `idCol` is not integral: index ids are normalized
    * to long throughout (and [[autoTuneNProbe]] decodes with getLong), and
    * a silent cast would map string ids to NULL, which then vanish through
    * the `query_id =!= neighbor_id` filter — quietly empty results instead
    * of an error (round-7 ADVICE). */
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType)(dt),
      s"$op requires an integral id column ('$idCol' is ${dt.simpleString})" +
        ": non-integral ids would cast to NULL and silently vanish from " +
        "results — map your ids to long (e.g. xxhash64) first")
  }

  /** Delete documents from a persisted [[buildIvfIndex]] index — the
    * serving-store shed path (takedowns, recrawl replacement): rewrites
    * ONLY the inverted lists that contain deleted ids, each as an
    * anti-join of that list against the delete set — never a full-index
    * rebuild. The kept rows stream from the old generation directories
    * straight into fresh `gen=` directories (durable staging — no
    * executor-storage checkpoint, nothing lost on executor failure),
    * then ONE manifest publish makes them live; untouched lists keep
    * their files byte-identical. Lists whose every member is deleted
    * leave the manifest and their directories are swept. Returns the
    * number of rows deleted.
    *
    * The delete set is NOT broadcast-hinted: it is unbounded at the
    * 100 TB posture (mass recrawls), so AQE picks broadcast when it fits
    * and a shuffle join when it doesn't (round-8 ADVICE).
    *
    * Centroids are untouched — [[appendToIvfIndex]]'s drift caveat in
    * reverse: heavy deletion shifts the true centroids, and retraining is
    * the caller's offline rebuild cadence. */
  // Touched-cid discovery probes the per-list id blooms first (candidate
  // lists only — the full-index read left this path in round 10), then
  // scans just the candidate lists' (id, cid) columns — parquet pruning
  // keeps the vectors (the index's mass) unread; a bloom-less index
  // falls back to scanning every live list's (id, cid) as before.
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, deleteIds: DataFrame, idCol: String): Long = {
    requireIntegralId(deleteIds, idCol, "deleteFromIvfIndex")
    val meta = readManifest(spark, path)
    val (metaGen, gens) = (meta.gen, meta.gens)
    if (gens.isEmpty) return 0L // fully-emptied index: nothing to delete
    gcStaleGens(spark, path, meta) // sweep crashed-op staging first
    val ids = deleteIds.select(col(idCol).cast("long").as("__del")).distinct()
    val scope = bloomCandidateCids(spark, path, gens, ids) match {
      case Some(Nil) => return 0L // no live list can hold any delete id
      case s => s
    }
    // ONE file index for the whole op: the scoped rewrite below filters
    // this same frame on the cid partition column, which prunes at
    // planning time — no second listing, no second schema read
    val corpus = readLists(spark, path, gens, scope)
    // touched-list discovery AND the deleted-row count in ONE job: the
    // per-cid match counts are the touched set's keys and the deleted
    // total at once (bounded: ≤ numCentroids rows reach the driver)
    val perCid = corpus.select("id", "cid")
      .join(ids, col("id").cast("long") === col("__del"), "left_semi")
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val touched = perCid.map(_._1).toSeq
    if (touched.isEmpty) return 0L
    val nDeleted = perCid.map(_._2).sum
    val scoped = corpus.filter(col("cid").isin(touched: _*))
    val newGen = metaGen + 1
    // eager local checkpoint: no read-back of the fresh generation, and
    // full materialization BEFORE the concurrent write/bloom jobs keeps
    // them from ever diverging on a recompute; released in the finally
    // (see buildIvfIndex's note — round-11 ADVICE on both counts)
    val kept = scoped
      .join(ids, col("id").cast("long") === col("__del"), "left_anti")
      .staged
    try {
      stageConcurrently( // both staged: pre-publish
        write = kept
          .withColumn("gen", lit(newGen))
          .repartition(col("cid"),
            pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
          .write.partitionBy("cid", "gen").mode("append")
          .parquet(s"$path/corpus"),
        blooms = writeListBlooms(spark, path, newGen,
          kept.select("id", "cid")))
      commitRewrite(spark, path, meta, touched, newGen): Unit
    } finally graft.Checkpoints.release(kept)
    nDeleted
  }

  /** Idempotent ATOMIC upsert into a persisted [[buildIvfIndex]] index —
    * the operation a serving store actually needs:
    *
    *  - recrawled documents REPLACE their stale vectors instead of
    *    coexisting with them;
    *  - re-running the same batch converges to the same index state, so
    *    an at-least-once delivery (foreachBatch retry, replayed ingest
    *    job) never double-inserts — the property bare append lacks;
    *  - delete and append commit as ONE manifest publish: every touched
    *    list's new content = (old − incoming ids) ∪ incoming rows,
    *    staged into fresh `gen=` directories and made live by a single
    *    pointer swap, so a crash at ANY point leaves search serving
    *    either the full old state or the full new state — the
    *    delete-committed/append-pending window of a two-op upsert does
    *    not exist (round-8 verdict item 3). Fusing the legs is also
    *    CHEAPER: one rewrite of the touched lists instead of a rewrite
    *    plus an append.
    *
    * Touched-list discovery probes the per-list id blooms, then reads
    * only the candidate lists' (id, cid) columns (parquet pruning); the
    * rewrite reads and writes only the touched lists. */
  def upsertIntoIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids
    requireIntegralId(newVecs, idCol, "upsertIntoIvfIndex")
    val spark = newVecs.sparkSession
    val meta = readManifest(spark, path)
    val (metaGen, gens) = (meta.gen, meta.gens)
    gcStaleGens(spark, path, meta) // sweep crashed-op staging first
    val (flat, numCentroids, dim) = loadCentroids(spark, path, meta)
    val vectors = requireIndexableVectors(newVecs, idCol, vecCol,
      "upsertIntoIvfIndex", Some(dim))
    val int8 = meta.int8
    val assign = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col(vecCol)), flat, numCentroids, 1)).getItem(0)
    val payload =
      if (int8) VectorOps.int8Code(col(vecCol)).as("code")
      else col(vecCol).as("vec")
    // assigned ONCE (eager checkpoint): the discovery joins, the
    // touched-cid collect and the content write below all consume this
    // frame — without it each branch re-runs the assignment scan of the
    // batch (batch-sized blocks; a lost executor just retries the batch,
    // the same acceptance as StreamingCuration.curateBatch)
    val incoming = vectors.select(col(idCol).as("id"), payload,
      assign.as("cid")).staged
    // unhinted joins: the incoming batch is unbounded at the 100 TB
    // posture (mass recrawls) — AQE picks the strategy (round-8 ADVICE)
    val ids = incoming.select(col("id").cast("long").as("__del")).distinct()
    // delete-leg discovery: bloom-probe the candidate lists, then scan
    // just those lists' (id, cid) columns (fallback: all live lists).
    // A fully-emptied index (live manifest, empty gens map) skips the
    // leg entirely — the upsert degrades to a pure insert publishing a
    // fresh manifest instead of wedging on readLists' non-empty
    // requirement (round-9 ADVICE).
    val touchedDel: Array[Int] =
      if (gens.isEmpty) Array.empty
      else bloomCandidateCids(spark, path, gens, ids) match {
        case Some(Nil) => Array.empty
        case scope => readLists(spark, path, gens, scope)
          .select("id", "cid")
          .join(ids, col("id").cast("long") === col("__del"), "left_semi")
          .select(col("cid")).distinct().collect().map(_.getInt(0))
      }
    val touchedApp = incoming.select(col("cid")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ numCentroids
    val touched = (touchedDel ++ touchedApp).distinct.sorted.toSeq
    val liveTouched = touched.filter(gens.contains)
    val keptOld =
      if (liveTouched.isEmpty) None
      else Some(readLists(spark, path, gens, Some(liveTouched))
        .join(ids, col("id").cast("long") === col("__del"), "left_anti"))
    // eager local checkpoint: no read-back of the fresh generation, and
    // full materialization BEFORE the concurrent staging jobs — no
    // recompute divergence (see buildIvfIndex's note; round-11 ADVICE)
    val content = keptOld.map(_.unionByName(incoming)).getOrElse(incoming)
      .staged
    try {
      val newGen = metaGen + 1
      stageConcurrently( // both staged: pre-publish
        write = content
          .withColumn("gen", lit(newGen))
          .repartition(col("cid"),
            pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
          .write.partitionBy("cid", "gen").mode("append")
          .parquet(s"$path/corpus"),
        blooms = writeListBlooms(spark, path, newGen,
          content.select("id", "cid")))
      commitRewrite(spark, path, meta, touched, newGen): Unit
    } finally {
      graft.Checkpoints.release(content)
      graft.Checkpoints.release(incoming)
    }
  }

  /** Compact append-fragmented inverted lists: [[appendToIvfIndex]] adds
    * up to WriteSalt files to every touched list per batch, so a long
    * append cadence decays a list into many small files and its scans
    * into footer reads (the same small-files decay as the streaming state
    * store). Rewrites ONLY the live list directories holding more than
    * `maxFilesPerList` data files, each back to ≤ WriteSalt files, with
    * the same stage-into-fresh-generations + manifest-publish commit as
    * [[deleteFromIvfIndex]]. Returns the compacted cids. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerList: Int = 4 * WriteSalt): Seq[Int] = {
    val meta = readManifest(spark, path)
    val (metaGen, gens) = (meta.gen, meta.gens)
    gcStaleGens(spark, path, meta) // sweep crashed-op staging first
    val fs = hadoopFs(spark, path)
    val frag = gens.toSeq.filter { case (c, g) =>
      val d = new org.apache.hadoop.fs.Path(liveListDir(path, c, g))
      fs.exists(d) && listDataFiles(fs, d).length > maxFilesPerList
    }.map(_._1).sorted
    if (frag.isEmpty) return Nil
    val newGen = metaGen + 1
    // eager + released: see buildIvfIndex's checkpoint note
    val content = readLists(spark, path, gens, Some(frag))
      .staged
    try {
      stageConcurrently( // blooms refresh the append-dropped sidecars too
        write = content
          .withColumn("gen", lit(newGen))
          .repartition(col("cid"),
            pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
          .write.partitionBy("cid", "gen").mode("append")
          .parquet(s"$path/corpus"),
        blooms = writeListBlooms(spark, path, newGen,
          content.select("id", "cid")))
      commitRewrite(spark, path, meta, frag, newGen)
    } finally graft.Checkpoints.release(content)
    frag
  }

  /** RETRAIN the centroids of a persisted index from its CURRENT live
    * corpus and re-assign every row — the offline-cadence op the
    * [[appendToIvfIndex]]/[[deleteFromIvfIndex]] drift caveats defer to,
    * with the same atomic commit as every other maintenance op: the new
    * centroid matrix lands in `centroids/gen=<n+1>`, every re-assigned
    * inverted list in `cid=<c>/gen=<n+1>`, and ONE manifest publish swaps
    * BOTH together — search serves either the old (centroids, lists)
    * pair or the new pair, never a centroids/assignment mix. A crash at
    * any point leaves the old pair fully live; the staged new
    * generations are swept by the next op's GC.
    *
    * Scale shape: one full corpus rewrite (inherent — retraining
    * re-assigns every row) = one Lloyd training pass (shuffles only
    * numCentroids × dim partials per iteration) + one assign-and-write
    * scan; run it on the retrain cadence, not per batch.
    *
    * Float-codec only: int8 codes are per-vector-scaled with NO stored
    * scale (the scales cancel in the cosine), so the vectors cannot be
    * reconstructed from the index — rebuild an int8 index from the
    * source corpus instead (loud error here). Returns the number of
    * centroids trained. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numCentroids: Option[Int] = None,
      lloydIters: Int = 1): Int = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids
    val meta = readManifest(spark, path)
    require(!meta.int8, "retrainIvfIndex requires the float codec: int8 " +
      "codes are per-vector-scaled with no stored scale, so the vectors " +
      "cannot be reconstructed from the index — rebuild from the source " +
      "corpus instead")
    gcStaleGens(spark, path, meta) // sweep crashed-op staging first
    val (_, curK, _) = loadCentroids(spark, path, meta)
    val k = numCentroids.getOrElse(curK)
    val corpus = readLists(spark, path, meta.gens, None)
      .select(col("id"), col("vec"))
    val centroids = lloydCentroids(corpus, "id", "vec", k, lloydIters,
      "retrainIvfIndex")
    val newGen = meta.gen + 1
    // stage: centroids first, then the re-assigned lists — both invisible
    // until the manifest flips
    writeCentroids(spark, path, newGen, centroids)
    val assign = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col("vec")), centroids.flatten.toArray, k, 1))
      .getItem(0)
    // eager + released: see buildIvfIndex's checkpoint note
    val content = corpus.select(col("id"), col("vec"), assign.as("cid"))
      .staged
    try {
      stageConcurrently( // both staged: pre-publish
        write = content
          .withColumn("gen", lit(newGen))
          .repartition(col("cid"),
            pmod(xxhash64(col("id")), lit(WriteSalt.toLong)))
          .write.partitionBy("cid", "gen").mode("append")
          .parquet(s"$path/corpus"),
        blooms = writeListBlooms(spark, path, newGen,
          content.select("id", "cid")))
      // publish: every OLD list is superseded (touched = all old cids plus
      // every possible new cid), centroid generation flips in the same swap
      val touched = (meta.gens.keySet ++ (0 until k)).toSeq.sorted
      val fs = hadoopFs(spark, path)
      val materialized = touched.filter(c => fs.exists(
        new org.apache.hadoop.fs.Path(liveListDir(path, c, newGen))))
      val newMeta = IndexMeta(newGen,
        materialized.map(_ -> newGen).toMap, meta.codec, centGen = newGen)
      writeManifest(spark, path, newMeta)
      gcStaleGens(spark, path, newMeta)
    } finally graft.Checkpoints.release(content)
    k
  }

  /** Write one centroid generation (numCentroids rows, one file). */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long,
      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
      .toDF("cid", "vec")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$path/centroids/gen=$gen")
  }

  /** Load the centroid matrix of a persisted index as the flat row-major
    * array [[graft.functions.TopCentroids]] consumes:
    * (flat, numCentroids, dim). Bounded driver state by construction.
    * The generation's parquet file is read on the driver with
    * parquet-hadoop's record reader (as [[readLists]] reads its footer),
    * so the load runs no Spark job. Nothing is cached across calls:
    * [[writeCentroids]] overwrites a `gen=` directory in place. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta): (Array[Double], Int, Int) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(s"$path/centroids/gen=${meta.centGen}")
    // the (cid, vec) rows writeCentroids writes; the list is read by
    // position (its repeated group, then the element), which covers both
    // parquet LIST layouts
    val centRows = listDataFiles(dir.getFileSystem(conf), dir).flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f.getPath)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        val vec = g.getGroup("vec", 0)
        g.getInteger("cid", 0) -> Array.tabulate(
          vec.getFieldRepetitionCount(0))(i => vec.getGroup(0, i).getDouble(0, 0))
      }.toVector
      finally reader.close()
    }
    val numCentroids = centRows.length
    val dim = centRows.head._2.length
    val flat = new Array[Double](numCentroids * dim)
    centRows.foreach { case (c, v) => System.arraycopy(v, 0, flat, c * dim, dim) }
    (flat, numCentroids, dim)
  }

  /** One probe row routed to its lists: `id` (null when the row's id is
    * null), the vector, and its `nProbe` nearest centroid ids. */
  private final case class RoutedProbe(id: java.lang.Long,
      vec: org.apache.spark.sql.catalyst.util.ArrayData, cids: Array[Int])

  /** Probe routing, the ONE place probes map to inverted lists: the
    * projection `(idCol, vecCol)` is collected to the driver once — the
    * probe set is small by contract; a local frame collects without a job,
    * a distributed one in one — and each row is routed there by
    * [[graft.functions.TopCentroids.top]], the function the expression
    * evaluates. A probe whose vector is null, has a NaN component or has
    * another number of components than the centroids has no nearest list
    * and is refused, naming its id. Ids are kept as longs
    * when `keepIds` (else null). Returns the routed rows and whether the
    * vectors hold floats (else doubles). */
  private def routeProbes(probes: DataFrame, idCol: String, keepIds: Boolean,
      vecCol: String, flat: Array[Double], numCentroids: Int,
      nProbe: Int): (Seq[RoutedProbe], Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    import graft.functions.TopCentroids
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"k=$numCentroids nProbe=$nProbe")
    val vFloat = probes.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"top_centroids expects array<float|double>, got $other")
    }
    val rows = probes.select(col(idCol), col(vecCol)).collect()
    (rows.iterator.map { r =>
      def refuse(why: String): Nothing = throw new IllegalArgumentException(
        s"IVF probe routing: the vector of probe id ${r.get(0)} in column " +
          s"'$vecCol' $why; it has no nearest list")
      if (r.isNullAt(1)) refuse("is null")
      val v =
        if (vFloat) UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray)
        else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray)
      if ((0 until v.numElements()).exists(i =>
          if (vFloat) v.getFloat(i).isNaN else v.getDouble(i).isNaN))
        refuse("has a NaN component")
      if (v.numElements() * numCentroids != flat.length)
        refuse(s"has ${v.numElements()} components where the index has " +
          s"${flat.length / numCentroids}")
      RoutedProbe(
        if (!keepIds || r.isNullAt(0)) null
        else r.get(0).asInstanceOf[Number].longValue,
        v, TopCentroids.top(v, vFloat, flat, numCentroids, nProbe))
    }.toVector, vFloat)
  }

  /** Number of distinct inverted lists a probe set would open — the
    * pruning diagnostic q167 gates (`probed < materialized lists`).
    * Same routing as [[searchIvfIndex]]; on a local probe frame it runs
    * no Spark job. */
  def probedCidCount(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, idCol: String, vecCol: String, nProbe: Int): Long = {
    val (flat, numCentroids, _) =
      loadCentroids(spark, path, readManifest(spark, path))
    routeProbes(probes, idCol, keepIds = false, vecCol, flat, numCentroids,
      nProbe)._1.flatMap(_.cids).distinct.size.toLong
  }

  /** A probe as the in-scan scorer reads it, in the stored codec: the
    * vector with its norm `sqrt(vec·vec)` (float codec), or its int8 code. */
  private[graft] final case class ScoringProbe(queryId: Long,
      vec: org.apache.spark.sql.catalyst.util.ArrayData, norm: Double,
      code: Array[Byte])

  /** `vec` (floats when `vFloat`, else doubles) as a probe of an index
    * in the int8 or float codec, scored like [[ivfTopKInt8]]'s
    * `int8Code(vec)` or [[ivfTopK]]'s `vec`. */
  private[graft] def scoringProbe(queryId: Long,
      vec: org.apache.spark.sql.catalyst.util.ArrayData, vFloat: Boolean,
      int8: Boolean): ScoringProbe = {
    import graft.functions.{FloatVecDot, Int8Code}
    if (int8) ScoringProbe(queryId, null, 0.0, Int8Code.code(vec, vFloat))
    else ScoringProbe(queryId, vec,
      math.sqrt(FloatVecDot.dot(vec, vFloat, vec, vFloat)), null)
  }

  /** What one search scores with: the probes grouped by the live list
    * each was routed to, and the scan of exactly those lists (`None` when
    * no probe reaches a live list). [[searchIvfIndex]] scans `lists`
    * itself, so the specs read its files to pin path-level pruning. */
  private[graft] final case class SearchScan(
      probes: Map[Int, Array[ScoringProbe]], lists: Option[DataFrame],
      int8: Boolean, probeFloat: Boolean)

  private[graft] def searchScan(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, idCol: String, vecCol: String,
      nProbe: Int): SearchScan = {
    val meta = readManifest(spark, path)
    val gens = meta.gens
    require(gens.nonEmpty, s"IVF index at $path has no live lists " +
      "(everything was deleted) — rebuild it")
    val (flat, numCentroids, _) = loadCentroids(spark, path, meta)
    // ids normalized to long (as bruteForceTopKFast does) so callers with
    // int id columns — and autoTuneNProbe's getLong decode — never hit a
    // runtime cast error; a no-op for the bigint fixture ids
    val (routed, vFloat) = routeProbes(probes, idCol, keepIds = true,
      vecCol, flat, numCentroids, nProbe)
    // the probe payload mirrors the stored codec: float probes against
    // float lists (bit-identical to ivfTopK), coded probes against coded
    // lists (bit-identical to ivfTopKInt8 — the scales cancel per pair).
    // A null query id never passes the self-match filter: dropped here.
    val byCid = routed.filter(_.id != null).flatMap { p =>
      val sp = scoringProbe(p.id, p.vec, vFloat, meta.int8)
      p.cids.iterator.filter(gens.contains).map(_ -> sp)
    }.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).toArray }
    val lists =
      if (byCid.isEmpty) None
      else Some(readLists(spark, path, gens, Some(byCid.keys.toSeq.sorted)))
    SearchScan(byCid, lists, meta.int8, vFloat)
  }

  /** One scored (query, neighbor) pair; `cosine` is meaningless when
    * `cosineNull` (an int8 pair whose stored code is null). */
  private[graft] final case class Scored(queryId: Long, neighborId: Long,
      cosine: Double, cosineNull: Boolean)

  /** The ranking order of [[ivfTopK]]'s window, best first: cosine
    * descending under Spark SQL's double comparison (NaN above every
    * number, nulls last), then neighbor_id ascending. */
  private[graft] val RankOrder: Ordering[Scored] = new Ordering[Scored] {
    def compare(a: Scored, b: Scored): Int =
      if (a.cosineNull != b.cosineNull) { if (a.cosineNull) 1 else -1 }
      else {
        val c = if (a.cosineNull) 0 else
          org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(b.cosine, a.cosine)
        if (c != 0) c else java.lang.Long.compare(a.neighborId, b.neighborId)
      }
  }

  /** One partition of the probed-list scan scored in its task: each row
    * `(neighbor_id, vec|code, cid)` against the probes routed to its list,
    * with the same math as the Catalyst expressions ([[VectorOps.cosine]]
    * over [[graft.functions.FloatVecDot.dot]], or
    * [[graft.functions.Int8Cosine.cosine]]); self-matches dropped. Keeps
    * the k best per query id in [[RankOrder]] — the leaf half of a
    * partial top-k whose root is the driver merge in [[searchIvfIndex]]. */
  private[graft] def partitionTopK(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      byCid: Map[Int, Array[ScoringProbe]], int8: Boolean,
      storedFloat: Boolean, probeFloat: Boolean, k: Int): Iterator[Scored] = {
    import graft.functions.{FloatVecDot, Int8Cosine}
    val worstFirst = RankOrder.reverse
    val heaps = scala.collection.mutable.HashMap.empty[Long,
      java.util.PriorityQueue[Scored]]
    def offer(s: Scored): Unit = {
      val h = heaps.getOrElseUpdate(s.queryId,
        new java.util.PriorityQueue[Scored](worstFirst))
      if (h.size < k) h.add(s)
      else if (RankOrder.lt(s, h.peek())) { h.poll(); h.add(s) }
    }
    rows.foreach { r =>
      val ps = byCid.getOrElse(r.getInt(2), Array.empty[ScoringProbe])
      if (!r.isNullAt(0) && ps.nonEmpty) {
        val nid = r.getLong(0)
        // a null stored payload scores 0.0 on the float path (the cosine
        // CASE's else branch) and null on the int8 path
        val score: ScoringProbe => Scored =
          if (r.isNullAt(1)) p => Scored(p.queryId, nid, 0.0, cosineNull = int8)
          else if (int8) {
            val code = r.getBinary(1)
            p => Scored(p.queryId, nid, Int8Cosine.cosine(p.code, code), false)
          } else {
            val cv = r.getArray(1)
            val cn = math.sqrt(FloatVecDot.dot(cv, storedFloat, cv, storedFloat))
            p => Scored(p.queryId, nid, VectorOps.cosineOf(
              FloatVecDot.dot(p.vec, probeFloat, cv, storedFloat), p.norm, cn),
              false)
          }
        ps.foreach(p => if (p.queryId != nid) offer(score(p)))
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.valuesIterator.flatMap(_.asScala)
  }

  /** The root of the partial top-k: per query id, the k best of the
    * partitions' survivors in [[RankOrder]], by query id then rank. */
  private[graft] def mergeTopK(partial: Seq[Scored], k: Int): Seq[Scored] =
    partial.groupBy(_.queryId).toSeq.sortBy(_._1)
      .flatMap { case (_, cands) => cands.sorted(RankOrder).take(k) }

  /** Search a [[buildIvfIndex]] index: probes pick their `nProbe` nearest
    * centroids, the corpus read opens ONLY those lists' live generation
    * directories (path-selection pruning through the commit manifest —
    * unprobed lists are never even listed), candidates score exact
    * cosine, ranking keeps top k per query id. Returns a local frame
    * `(query_id, neighbor_id, cosine)`, computed by the time it returns.
    *
    * Jobs per search: one, the scan of the probed lists. The centroids
    * are read and the probes routed on the driver ([[loadCentroids]],
    * [[routeProbes]]; a distributed probe frame adds its collect job),
    * and the probed lists are listed there too ([[readLists]]). The
    * routed probes ship as a broadcast variable; each scan task scores
    * its rows against them and keeps a per-query top k
    * ([[partitionTopK]]), and the driver merges those ≤ partitions ×
    * probes × k rows — the serving-tree shape of leaf partial top-k and
    * root merge. No broadcast exchange, shuffle or window runs, and no
    * job at all when no probe reaches a live list. The result equals
    * [[ivfTopK]]'s given the same centroids: same routing, same cosine
    * kernels, same ranking order (ties at rank k broken by ascending
    * neighbor_id). */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 8): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    requireIntegralId(probes, idCol, "searchIvfIndex")
    val s = searchScan(spark, path, probes, idCol, vecCol, nProbe)
    val partial = s.lists match {
      case Some(lists) if k >= 1 =>
        val storedFloat = !s.int8 && (lists.schema("vec").dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
        val scan = lists.select(col("id").cast("long"),
          col(if (s.int8) "code" else "vec"), col("cid"))
        // the task closure takes these values, not `s`, which holds a frame
        val (byCid, int8, probeFloat) = (
          spark.sparkContext.broadcast(s.probes), s.int8, s.probeFloat)
        val qe = scan.queryExecution
        try SQLExecution.withNewExecutionId(qe, Some("searchIvfIndex")) {
          qe.toRdd.mapPartitions(rows => partitionTopK(rows, byCid.value,
            int8, storedFloat, probeFloat, k)).collect()
        } finally byCid.destroy()
      case _ => Array.empty[Scored]
    }
    val rows = mergeTopK(partial.toSeq, k).map(c =>
      Row(c.queryId, c.neighborId, if (c.cosineNull) null else c.cosine))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("query_id", LongType, probes.schema(idCol).nullable),
      StructField("neighbor_id", LongType),
      StructField("cosine", DoubleType))))
  }

  /** Auto-tune `nProbe` for a persisted [[buildIvfIndex]] index: walk the
    * candidate ladder (ascending) and return the FIRST value whose
    * measured recall on a held-out probe sample meets `targetRecall`
    * (falling back to the largest candidate), plus that recall. This is
    * the serving-side knob turn every IVF deployment does by hand —
    * recall is a property of the data's clusteredness, so the right
    * nProbe cannot be known a priori; measuring it on a bounded sample
    * against exact brute force makes the choice deterministic and
    * auditable. Cost: one brute-force pass over the SAMPLE (bounded by
    * contract) + one partition-pruned index search per candidate tried —
    * the ladder stops at the first success, and each search reads only
    * ≈ cand/numCentroids of the corpus bytes. Recall is monotone
    * non-decreasing in nProbe by construction (probed lists only grow),
    * so first-success = minimal-cost choice at the target. */
  def autoTuneNProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, sampleProbes: DataFrame, idCol: String,
      vecCol: String, k: Int, targetRecall: Double,
      candidates: Seq[Int] = Seq(1, 2, 4, 8, 16)): (Int, Double) = {
    require(candidates.nonEmpty && candidates == candidates.sorted,
      "candidates must be ascending")
    requireIntegralId(corpus, idCol, "autoTuneNProbe")
    requireIntegralId(sampleProbes, idCol, "autoTuneNProbe")
    val truth = bruteForceTopKFast(corpus, sampleProbes, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(truth.nonEmpty, "empty probe sample")
    var chosen = candidates.last
    var recall = -1.0
    val it = candidates.iterator
    var done = false
    while (it.hasNext && !done) {
      val cand = it.next()
      val got = searchIvfIndex(spark, path, sampleProbes, idCol, vecCol, k,
          nProbe = cand)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      recall = got.intersect(truth).size.toDouble / truth.size
      if (recall >= targetRecall) { chosen = cand; done = true }
    }
    (chosen, recall)
  }

  /** Deterministic mini-batch-free Lloyd training shared by [[ivfTopK]] and
    * [[semDedupPairs]]: seeds = the `numCentroids` lowest-id vectors
    * (deterministic, any engine), `lloydIters` rounds of
    * assign-via-[[graft.functions.TopCentroids]] + exact decimal mean
    * (shuffle ∝ centroids×dim partials, never rows). The lowest-id
    * vector's length is the dimension: a null or NaN vector, a seed of
    * another length, or (in the Lloyd passes) a corpus vector of another
    * length is refused, naming `op` and its id. `corpus` is unchecked:
    * each pass wraps it in one refusal projection, never two nested ones,
    * whose generated code outgrew the JIT's method-size limit. Returns
    * l2-normalized centroid rows. */
  private def lloydCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, lloydIters: Int, op: String): Array[Array[Double]] = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids

    def l2norm(a: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val n = math.sqrt(s)
      if (n > 0) a.map(_ / n) else a
    }
    val seedRows = requireIndexableVectors(corpus, idCol, vecCol, op)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .orderBy(col("__id")).limit(numCentroids).collect()
    require(seedRows.length == numCentroids,
      s"corpus smaller than numCentroids=$numCentroids")
    // float or double components: read either through Number
    val seeds = seedRows.map(_.getSeq[Number](1).toArray.map(_.doubleValue))
    val dim = seeds.head.length
    seeds.indices.find(seeds(_).length != dim).foreach { i =>
      throw new IllegalArgumentException(s"$op: the vector of id " +
        s"${seedRows(i).get(0)} in column '$vecCol' has ${seeds(i).length} " +
        s"components where the index has $dim; an IVF index cannot place " +
        "it in any list")
    }
    var centroids = seeds.map(l2norm)
    val sized = requireIndexableVectors(corpus, idCol, vecCol, op, Some(dim))
    for (_ <- 0 until lloydIters) {
      val assign = ColumnShim.column(TopCentroids(
        ColumnShim.expression(col(vecCol)), centroids.flatten.toArray,
        numCentroids, 1)).getItem(0)
      val parts = sized
        .select(assign.as("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x").cast("decimal(28,10)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(numCentroids)(new Array[Double](dim))
      val counts = new Array[Long](numCentroids)
      parts.foreach { r =>
        val cid = r.getInt(0); val pos = r.getInt(1)
        sums(cid)(pos) = r.getDouble(2); counts(cid) = r.getLong(3)
      }
      centroids = centroids.indices.toArray.map { c =>
        if (counts(c) == 0) centroids(c)
        else l2norm(sums(c).map(_ / counts(c)))
      }
    }
    centroids
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * public): cluster embeddings with k-means, then search for cosine ≥
    * `threshold` pairs ONLY within each cluster — all-pairs work shrinks
    * from O(N²) to Σ O(|cluster|²), and `numCentroids` is the knob that
    * bounds cluster size (the paper's recipe: pick k so clusters fit a
    * worker; here, so the per-bucket pair fan-out stays shuffle-sized).
    * Pairs that straddle a cluster boundary are missed by construction —
    * recall < 1, like every bucketed dedup in this file; PipelineSpec
    * anchors recall on planted clusters. Same bucket-collect shape as
    * [[cosineNearDupPairs]], with the learned cid as the bucket key and
    * the same min-id-star collapse past `maxBucket`
    * ([[Dedup.cappedPairCombos]]) bounding a pathological cluster's pair
    * fan-out to linear. */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 64, lloydIters: Int = 1,
      maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.TopCentroids
    val vectors = requireIndexableVectors(df, idCol, vecCol, "semDedupPairs")
    val flat = lloydCentroids(df, idCol, vecCol, numCentroids,
      lloydIters, "semDedupPairs").flatten.toArray
    val cid = ColumnShim.column(TopCentroids(
      ColumnShim.expression(col(vecCol)), flat, numCentroids, 1)).getItem(0)
    val pairs = vectors
      .select(col(idCol), cid.as("bucket"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.cappedPairCombos(col("ids"), maxBucket)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = df.select(col(idCol), col(vecCol))
    val verified = pairs
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      // eager localCheckpoint: computed once, reused by every caller
      // branch, blocks ContextCleaner-freed when unreachable — no
      // caller-must-unpersist contract (see Dedup.nearDupPairs)
      .staged
    pairs.unpersist(blocking = false)
    verified
  }

  /** End-to-end SemDeDup: drop every embedding that is not its semantic
    * dup-cluster's min-id representative; singletons survive.
    * [[semDedupPairs]] → [[Dedup.dupClusters]] → anti-join (AQE sizes it). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 64,
      lloydIters: Int = 1): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, threshold, numCentroids,
      lloydIters)
    // pairs is an eager localCheckpoint; dupClusters returns checkpointed
    // labels, after which the pair blocks are auto-freed
    val clusters = Dedup.dupClusters(pairs)
    val losers = clusters
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, multi-table
    * sign-LSH candidates (OR-amplification, same rationale as [[lshTopK]])
    * verified exactly — the scalable analogue of text MinHash dedup for
    * embedding space. Bucket-collect shape: one evaluation of the signature
    * subtree, in-bucket pair enumeration, candidates deduped before the
    * exact cosine verify. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bitsPerTable: Int = 6, numTables: Int = 16,
      dim: Int = 64, seed: Long = 42L,
      maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val sigs = (0 until numTables).map { t =>
      val planes = VectorOps.randomPlanes(bitsPerTable, dim, seed + t)
      lit(t.toLong << 32) + VectorOps.hyperplaneSignature(col(vecCol), planes)
    }
    val pairs = df
      .select(col(idCol), explode(array(sigs: _*)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.cappedPairCombos(col("ids"), maxBucket)).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = df.select(col(idCol), col(vecCol))
    val verified = pairs
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .staged // eager; auto-freed — see Dedup.nearDupPairs
    pairs.unpersist(blocking = false)
    verified
  }

  /** Per-group mean embedding (class centroids / prototype vectors), long
    * format `(groupCol, pos, n, mean_val)` — the embedding-space rollup
    * behind prototype classifiers, drift monitoring, and IVF-style
    * seeding at corpus scale. Elements are averaged at 1e-10 fixed-point
    * resolution (far below float32 noise).
    *
    * Scale shape: posexplode fans each vector into (group, pos, x) rows in
    * the scan stage; partial aggregation absorbs the ×dim fan-out map-side,
    * so the one shuffle carries a (group × dim)-sized table of partials —
    * independent of corpus row count. Element sums travel as exact
    * INTEGERS: each element quantizes to `±floor(|x|·1e10 + 0.5)` (floor
    * rounding — deterministic in every engine; a double→DECIMAL(p,10) cast
    * is NOT: a float whose decimal expansion ties at digit 11 — any odd
    * multiple of 2^-11 — rounds HALF_UP in Spark and half-even in DuckDB,
    * measured 1 ulp apart on the fixture), summed as scale-0 decimals
    * (q65 rule: one correctly-rounded int→double conversion per engine). */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val xd = col("x").cast("double")
    val s = xd * lit(1e10)
    val xq = when(xd >= 0, floor(s + lit(0.5)))
      .otherwise(-floor(-s + lit(0.5)))
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        (sum(xq.cast("decimal(38,0)")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e10))).as("mean_val"))
  }

  /** Oracle twin: exact all-pairs cosine >= threshold (O(N²), small data). */
  def allPairsCosine(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
