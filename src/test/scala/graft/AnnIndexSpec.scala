package graft

import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Persisted IVF index: build-once/search-many equivalence with the
  * in-memory path, the partition-pruning fact that justifies it, and the
  * generation-manifest commit protocol (atomic maintenance, crash
  * windows, GC). All state paths are per-JVM temp dirs (SparkSpec
  * .tmpPath) — two concurrent test JVMs never collide. */
class AnnIndexSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sf0001)
  private val path = tmpPath("ivf_index")

  test("searchIvfIndex equals ivfTopK bit-for-bit given the same centroids") {
    val probes = embs.filter(col("vec_id") < 10)
    Ann.buildIvfIndex(embs, "vec_id", "embedding", path, numCentroids = 32)
    val fromIndex = Ann.searchIvfIndex(spark, path, probes, "vec_id",
        "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMemory = Ann.ivfTopK(embs, probes, "vec_id", "embedding",
        k = 5, numCentroids = 32, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex === inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("ivfTopK over array<double> vectors returns the pairs of the float column") {
    val doubles = embs.withColumn("embedding",
      col("embedding").cast("array<double>"))
    def pairs(corpus: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopK(corpus, corpus.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5, numCentroids = 16, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromFloat = pairs(embs)
    assert(fromFloat.nonEmpty)
    assert(pairs(doubles) === fromFloat)
  }

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("64-list index past the 32-dir parallel-listing threshold: search equals ivfTopK and ivfTopKInt8 bit-for-bit") {
    val probes = embs.filter(col("vec_id") < 10)
    val nProbe = 40
    for ((codec, inMemory) <- Seq(
        "float" -> Ann.ivfTopK(embs, probes, "vec_id", "embedding", k = 5,
          numCentroids = 64, nProbe = nProbe),
        "int8" -> Ann.ivfTopKInt8(embs, probes, "vec_id", "embedding", k = 5,
          numCentroids = 64, nProbe = nProbe))) {
      val p = tmpPath(s"ivf_wide_$codec")
      Ann.buildIvfIndex(embs, "vec_id", "embedding", p, numCentroids = 64,
        codec = codec)
      // the lists the search scans: the frame searchIvfIndex itself scores
      val scanned = Ann.searchScan(spark, p, probes, "vec_id", "embedding",
        nProbe).lists.get
      val opened = scanned.inputFiles.filter(_.contains("/corpus/"))
        .map(_.split("/cid=")(1).split("/")(0)).toSet
      assert(opened.size > 32,
        s"$codec search opened only ${opened.size} live lists")
      val got = triples(Ann.searchIvfIndex(spark, p, probes, "vec_id",
        "embedding", k = 5, nProbe = nProbe))
      assert(got.nonEmpty)
      assert(got === triples(inMemory), s"$codec search diverged")
    }
  }

  test("one search runs one job and fewer tasks than the lists it probes") {
    val jPath = tmpPath("ivf_jobs")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", jPath, numCentroids = 64)
    // a local probe batch, as a serving client sends one
    val local = embs.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(local.collect(): _*), local.schema)
    // centroids are read and probes routed on the driver
    val (lists, routing) = jobsDuring(Ann.probedCidCount(spark, jPath, probes,
      "vec_id", "embedding", nProbe = 8))
    assert(routing.jobs === 0, s"probedCidCount ran $routing")
    val (rows, spent) = jobsDuring(Ann.searchIvfIndex(spark, jPath, probes,
      "vec_id", "embedding", k = 5, nProbe = 8).collect().length)
    assert(rows === 50 * 5)
    assert(spent.jobs === 1, s"search ran $spent")
    assert(spent.tasks < lists, s"search ran $spent over $lists probed lists")
  }

  /** A local `(vec_id, embedding array<float>)` frame of hand-made rows. */
  private def vecFrame(rows: Seq[(Long, Seq[Float])]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  test("search ranks like ivfTopK: ties at rank k by ascending id, no self-match, k past the candidates") {
    val rPath = tmpPath("ivf_rank")
    val corpus = vecFrame(Seq(
      9L -> Seq(1f, 0f, 0f), 5L -> Seq(1f, 0f, 0f), 7L -> Seq(1f, 0f, 0f),
      3L -> Seq(1f, 0f, 0f), 2L -> Seq(1f, 0.5f, 0f), 4L -> Seq(0f, 1f, 0f),
      6L -> Seq(0f, 0f, 1f), 8L -> Seq(0f, 0f, 0f), 10L -> Seq(-1f, 0f, 0f),
      11L -> Seq(1f, 1f, 0f)))
    // probe 3 is also a corpus row: its self-match must not rank
    val probes = vecFrame(Seq(3L -> Seq(1f, 0f, 0f), 100L -> Seq(1f, 0f, 0f),
      4L -> Seq(0f, 1f, 0f)))
    Ann.buildIvfIndex(corpus, "vec_id", "embedding", rPath, numCentroids = 2)
    def search(k: Int) = triples(Ann.searchIvfIndex(spark, rPath, probes,
      "vec_id", "embedding", k = k, nProbe = 2))
    def window(k: Int) = triples(Ann.ivfTopK(corpus, probes, "vec_id",
      "embedding", k = k, numCentroids = 2, nProbe = 2))
    def neighbors(res: Set[(Long, Long, Double)], q: Long) =
      res.filter(_._1 == q).map(_._2)
    val top2 = search(2)
    assert(top2 === window(2))
    // four rows tie at cosine 1.0; rank 2 cuts the tie by ascending id
    assert(neighbors(top2, 3L) === Set(5L, 7L))
    assert(neighbors(top2, 100L) === Set(3L, 5L))
    // k above the candidate count returns every candidate but the probe
    val all = search(100)
    assert(all === window(100))
    assert(neighbors(all, 3L) === (corpus.collect().map(_.getLong(0)).toSet - 3L))
    assert(neighbors(all, 100L).size === 10)
    assert(all.contains((3L, 8L, 0.0)), "a zero vector scores 0.0")
  }

  test("probes that reach no live list, and an empty probe frame, return empty results with no job") {
    val ePath = tmpPath("ivf_empty_lists")
    // seeds (the two lowest ids) fall one per cluster
    val corpus = vecFrame(Seq(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 3L -> Seq(1f, 0.1f, 0f),
      4L -> Seq(0.1f, 1f, 0f), 5L -> Seq(1f, 0f, 0.1f), 6L -> Seq(0f, 1f, 0.1f)))
    Ann.buildIvfIndex(corpus, "vec_id", "embedding", ePath, numCentroids = 2)
    val full = Ann.searchIvfIndex(spark, ePath, corpus, "vec_id", "embedding",
      k = 2, nProbe = 1)
    assert(full.count() === 12)
    // empty the list that holds id 1: it leaves the manifest
    val listed = Ann.readIndexCorpus(spark, ePath)
    val cid1 = listed.filter(col("id") === 1L).select(col("cid"))
      .collect().head.getInt(0)
    val emptied = listed.filter(col("cid") === cid1).select(col("id").as("vec_id"))
    assert(Ann.deleteFromIvfIndex(spark, ePath, emptied, "vec_id") === 3L)
    assert(!Ann.readManifest(spark, ePath).gens.contains(cid1))
    val probe = vecFrame(Seq(100L -> Seq(1f, 0f, 0f)))
    assert(Ann.probedCidCount(spark, ePath, probe, "vec_id", "embedding",
      nProbe = 1) === 1L)
    val (dead, deadSpent) = jobsDuring {
      val res = Ann.searchIvfIndex(spark, ePath, probe, "vec_id", "embedding",
        k = 2, nProbe = 1)
      (res.schema, res.collect().length)
    }
    assert(dead === (full.schema -> 0) && deadSpent.jobs === 0,
      s"search over a dead list ran $deadSpent")
    val (none, noneSpent) = jobsDuring {
      val res = Ann.searchIvfIndex(spark, ePath, vecFrame(Nil), "vec_id",
        "embedding", k = 2, nProbe = 1)
      (res.schema, res.collect().length)
    }
    assert(none === (full.schema -> 0) && noneSpent.jobs === 0,
      s"an empty probe frame ran $noneSpent")
  }

  test("in-scan scorer equals the window over the same pairs: zero, null and NaN stored vectors, float and int8") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    import graft.functions.{Int8Code, VectorOps}
    val stored: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(1f, 0f, 0f), 3L -> null,
      4L -> Array(0f, 0f, 0f), 5L -> Array(Float.NaN, 0f, 0f),
      6L -> Array(0.5f, 0.5f, 0f), 7L -> Array(-1f, 0f, 0f),
      8L -> Array(0.2f, -0.7f, 0.4f), 9L -> Array(1f, 0f, 0f))
    // double probes against float lists: the mixed widening of vec_dot
    val probes: Seq[(Long, Array[Double])] = Seq(
      1L -> Array(1.0, 0.0, 0.0), 20L -> Array(0.3, 0.2, -0.1),
      21L -> Array(0.0, 0.0, 0.0), 22L -> Array(-0.5, 0.25, 0.125))
    val pairs = spark.createDataFrame(
        java.util.Arrays.asList(probes.map { case (q, v) => Row(q, v.toSeq) }: _*),
        StructType(Seq(StructField("query_id", LongType),
          StructField("pvec", ArrayType(DoubleType)))))
      .crossJoin(spark.createDataFrame(java.util.Arrays.asList(stored.map {
          case (n, v) => Row(n, Option(v).map(_.toSeq).orNull) }: _*),
        StructType(Seq(StructField("neighbor_id", LongType),
          StructField("cvec", ArrayType(FloatType))))))
      .filter(col("query_id") =!= col("neighbor_id"))
    def key(q: Long, n: Long, c: java.lang.Double) =
      (q, n, Option(c).map(d => java.lang.Double.doubleToLongBits(d)))
    for (int8 <- Seq(false, true); k <- Seq(1, 2, 3, 100)) {
      val score =
        if (int8) VectorOps.int8Cosine(VectorOps.int8Code(col("pvec")),
          VectorOps.int8Code(col("cvec")))
        else VectorOps.cosine(col("pvec"), col("cvec"))
      val expected = pairs.select(col("query_id"), col("neighbor_id"),
          score.as("cosine"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rank") <= k).collect()
        .map(r => key(r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSet
      val byCid = Map(0 -> probes.map { case (q, v) =>
        Ann.scoringProbe(q, UnsafeArrayData.fromPrimitiveArray(v),
          vFloat = false, int8) }.toArray)
      val rows = stored.map { case (n, v) =>
        val data = Option(v).map(a => UnsafeArrayData.fromPrimitiveArray(a))
        InternalRow(n, data.map(d =>
          if (int8) Int8Code.code(d, vFloat = true) else d).orNull, 0)
      }
      // two partitions, merged as the driver merges them
      val partial = stored.indices.partition(_ % 2 == 0) match {
        case (a, b) => Seq(a, b).flatMap(ix => Ann.partitionTopK(
          ix.iterator.map(rows), byCid, int8, storedFloat = true,
          probeFloat = false, k))
      }
      val got = Ann.mergeTopK(partial, k).map(c => key(c.queryId,
        c.neighborId, if (c.cosineNull) null else c.cosine)).toSet
      assert(got === expected, s"int8=$int8 k=$k")
    }
  }

  test("search sees rows appendToIvfIndex wrote into live lists in place (no manifest bump)") {
    val aPath = tmpPath("ivf_inplace")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", aPath, numCentroids = 16)
    val src = embs.filter(col("vec_id") < 20)
    // copies under negative ids win the cosine-1.0 tie against their
    // originals (rank breaks ties by ascending id); probes carry ids of
    // their own so the self-match filter drops neither
    val copies = src.select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val probes = src.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    def copiesFound(): Set[Long] = Ann.searchIvfIndex(spark, aPath, probes,
        "vec_id", "embedding", k = 1, nProbe = 16)
      .collect().map(_.getLong(1)).filter(_ < 0).toSet
    assert(copiesFound().isEmpty)
    val before = Ann.readManifest(spark, aPath)
    Ann.appendToIvfIndex(copies, "vec_id", "embedding", aPath)
    assert(Ann.readManifest(spark, aPath) === before,
      "the copies must land in already-live lists, without a new manifest")
    val expected = copies.collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && copiesFound() === expected)
  }

  test("appendToIvfIndex: incremental build equals one-shot assignment against the same centroids") {
    val appendPath = tmpPath("ivf_append")
    val half1 = embs.filter(pmod(col("vec_id"), lit(2L)) === 0)
    val half2 = embs.filter(pmod(col("vec_id"), lit(2L)) === 1)
    Ann.buildIvfIndex(half1, "vec_id", "embedding", appendPath,
      numCentroids = 16)
    Ann.appendToIvfIndex(half2, "vec_id", "embedding", appendPath)
    // every row landed, and search sees neighbors from BOTH halves
    assert(Ann.readIndexCorpus(spark, appendPath).count() === embs.count())
    val probes = embs.filter(col("vec_id") < 6)
    val res = Ann.searchIvfIndex(spark, appendPath, probes, "vec_id",
      "embedding", k = 5, nProbe = 16)
    val parities = res.select(pmod(col("neighbor_id"), lit(2L)))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(parities === Set(0L, 1L), "appended half invisible to search")
    // appended rows carry the assignment the SAVED centroids dictate:
    // re-deriving half2's cids from the centroid file matches the index
    val fromIndex = Ann.readIndexCorpus(spark, appendPath)
      .filter(pmod(col("id"), lit(2L)) === 1)
      .select(col("id"), col("cid").cast("int").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val centRows = spark.read.parquet(s"$appendPath/centroids")
      .select(col("cid"), col("vec")).collect()
    val dim = centRows.head.getSeq[Double](1).length
    val flat = new Array[Double](centRows.length * dim)
    centRows.foreach { r =>
      val v = r.getSeq[Double](1)
      (0 until dim).foreach(i => flat(r.getInt(0) * dim + i) = v(i))
    }
    import org.apache.spark.sql.graftshim.ColumnShim
    val assign = ColumnShim.column(graft.functions.TopCentroids(
      ColumnShim.expression(col("embedding")), flat, centRows.length, 1))
      .getItem(0)
    val expected = half2.select(col("vec_id"), assign.as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromIndex === expected)
  }

  test("int8 index: search equals ivfTopKInt8 bit-for-bit; stored bytes shrink vs float") {
    val probes = embs.filter(col("vec_id") < 10)
    val path8 = tmpPath("ivf_index_int8")
    val pathF = tmpPath("ivf_index_floatref")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", path8, numCentroids = 32,
      codec = "int8")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", pathF, numCentroids = 32)
    val fromIndex = Ann.searchIvfIndex(spark, path8, probes, "vec_id",
        "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMemory = Ann.ivfTopKInt8(embs, probes, "vec_id", "embedding",
        k = 5, numCentroids = 32, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex === inMemory)
    assert(fromIndex.nonEmpty)
    def corpusBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("part-")) f.length() else 0L
      walk(new java.io.File(s"$p/corpus"))
    }
    val (b8, bf) = (corpusBytes(path8), corpusBytes(pathF))
    assert(b8 < bf, s"int8 index not smaller: $b8 vs $bf bytes")
  }

  test("index write parallelism is not capped at numCentroids (salted repartition)") {
    // 4 centroids, write-salt 8: without the salt the corpus write stage
    // is exactly numCentroids tasks → exactly one part file per cid dir;
    // with it, rows of one list spread over up to WriteSalt writers, so
    // the total part-file count exceeds numCentroids while the directory
    // layout (and pruning) is unchanged.
    // AQE coalescing collapses the tiny test shuffle back to few tasks
    // (the desired production behavior — it cannot collapse full-size
    // partitions); turn it off here so the raw partitioning is visible
    val saltPath = tmpPath("ivf_salt")
    val saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Ann.buildIvfIndex(embs, "vec_id", "embedding", saltPath, numCentroids = 4)
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    def partFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(partFiles)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    val files = partFiles(new java.io.File(s"$saltPath/corpus"))
    assert(files.size > 4,
      s"only ${files.size} part files for 4 lists — write stage still " +
        "single-task-per-list")
    // search over the salted layout still equals the in-memory path
    val probes = embs.filter(col("vec_id") < 5)
    val fromIndex = Ann.searchIvfIndex(spark, saltPath, probes, "vec_id",
        "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMemory = Ann.ivfTopK(embs, probes, "vec_id", "embedding",
        k = 3, numCentroids = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex === inMemory)
  }

  test("autoTuneNProbe walks the ladder to the first candidate meeting the target") {
    val tunePath = tmpPath("ivf_tune")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", tunePath, numCentroids = 16)
    val probes = embs.filter(col("vec_id") < 8)
    // target 0 → the first candidate trivially meets it
    val (first, _) = Ann.autoTuneNProbe(spark, tunePath, embs, probes,
      "vec_id", "embedding", k = 3, targetRecall = 0.0,
      candidates = Seq(2, 4, 8))
    assert(first === 2)
    // unreachable target → falls back to the LAST candidate, recall real
    val (last, r) = Ann.autoTuneNProbe(spark, tunePath, embs, probes,
      "vec_id", "embedding", k = 3, targetRecall = 1.1,
      candidates = Seq(2, 4, 8))
    assert(last === 8)
    assert(r > 0.0 && r <= 1.0)
    // probing every list IS exact: recall must be 1 at nProbe = k-lists
    val (_, rAll) = Ann.autoTuneNProbe(spark, tunePath, embs, probes,
      "vec_id", "embedding", k = 3, targetRecall = 1.1,
      candidates = Seq(16))
    assert(rAll === 1.0)
  }

  test("int id columns search and tune cleanly (ids normalized to long)") {
    // round-6 ADVICE: searchIvfIndex kept the caller's id type uncast, so
    // autoTuneNProbe's getLong decode threw ClassCastException on int ids
    val intPath = tmpPath("ivf_intids")
    val intEmbs = embs.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    Ann.buildIvfIndex(intEmbs, "vec_id", "embedding", intPath,
      numCentroids = 16)
    val probes = intEmbs.filter(col("vec_id") < 6)
    val res = Ann.searchIvfIndex(spark, intPath, probes, "vec_id",
      "embedding", k = 3, nProbe = 16)
    assert(res.schema("query_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(res.schema("neighbor_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(res.count() > 0)
    val (np, recall) = Ann.autoTuneNProbe(spark, intPath, intEmbs, probes,
      "vec_id", "embedding", k = 3, targetRecall = 1.1,
      candidates = Seq(16))
    assert(np === 16 && recall === 1.0,
      "full-probe search over int ids must be exact")
  }

  test("deleteFromIvfIndex: rewrite of only touched lists; search sees survivors") {
    import org.apache.hadoop.fs.Path
    val delPath = tmpPath("ivf_delete")
    val refPath = tmpPath("ivf_delete_ref")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", delPath, numCentroids = 16)
    val delIds = embs.filter(pmod(col("vec_id"), lit(7L)) === 3)
      .select(col("vec_id"))
    val nDel = delIds.count()
    val fs = new Path(delPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    // record every list's files (recursively: cid=C/gen=G/part-*) before
    def filesPerCid(p: String): Map[String, Set[String]] =
      fs.listStatus(new Path(s"$p/corpus")).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
        .map { st =>
          val files = scala.collection.mutable.Set.empty[String]
          val it = fs.listFiles(st.getPath, true)
          while (it.hasNext) {
            val f = it.next()
            val name = f.getPath.toString.split("/corpus/")(1)
            if (!f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith(".")) files += name
          }
          st.getPath.getName -> files.toSet
        }.toMap
    val before = filesPerCid(delPath)
    val touchedCids = Ann.readIndexCorpus(spark, delPath)
      .join(delIds, col("id") === col("vec_id"), "left_semi")
      .select(col("cid")).distinct().collect().map(r => s"cid=${r.getInt(0)}")
      .toSet
    val deleted = Ann.deleteFromIvfIndex(spark, delPath, delIds, "vec_id")
    assert(deleted === nDel, s"deleted $deleted of $nDel")
    val after = filesPerCid(delPath)
    before.keySet.filterNot(touchedCids).foreach { cid =>
      assert(after(cid) === before(cid),
        s"untouched list $cid was rewritten")
    }
    // touched lists moved to a NEW generation (old one swept)
    touchedCids.filter(after.contains).foreach { cid =>
      assert(after(cid).intersect(before(cid)).isEmpty,
        s"touched list $cid still holds pre-delete files")
    }
    // no deleted id survives, count reconciles
    val corpus = Ann.readIndexCorpus(spark, delPath)
    assert(corpus.join(delIds, col("id") === col("vec_id"), "left_semi")
      .count() === 0)
    assert(corpus.count() === embs.count() - nDel)
    // search over the shrunk index == an index REBUILT from the survivors,
    // both probed exhaustively (nProbe = numCentroids ⇒ every list read ⇒
    // exact top-k among survivors, independent of centroids)
    val survivors = embs.join(delIds, Seq("vec_id"), "left_anti")
    Ann.buildIvfIndex(survivors, "vec_id", "embedding", refPath,
      numCentroids = 16)
    val probes = embs.filter(col("vec_id") < 6)
    def res(p: String) = Ann.searchIvfIndex(spark, p, probes, "vec_id",
        "embedding", k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(delPath) === res(refPath))
    // deleting EVERY member of one list removes its directory outright
    val victim = Ann.readIndexCorpus(spark, delPath)
      .select(col("cid")).groupBy(col("cid")).count()
      .orderBy(col("count"), col("cid")).first().getInt(0)
    val victimIds = Ann.readIndexCorpus(spark, delPath)
      .filter(col("cid") === victim).select(col("id").as("vec_id"))
    Ann.deleteFromIvfIndex(spark, delPath, victimIds, "vec_id")
    assert(!fs.exists(new Path(s"$delPath/corpus/cid=$victim")),
      "fully-deleted list directory must be removed")
    assert(Ann.searchIvfIndex(spark, delPath, probes, "vec_id", "embedding",
      k = 5, nProbe = 16).count() > 0)
    // the int8-coded layout deletes and upserts through the same path
    // (the kept rewrite carries whatever payload column the index stores)
    val i8Path = tmpPath("ivf_delete_int8")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", i8Path,
      numCentroids = 16, codec = "int8")
    assert(Ann.deleteFromIvfIndex(spark, i8Path, delIds, "vec_id") === nDel)
    Ann.upsertIntoIvfIndex(
      embs.join(delIds, Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", i8Path)
    val i8Corpus = Ann.readIndexCorpus(spark, i8Path)
    assert(i8Corpus.count() === embs.count())
    assert(i8Corpus.schema.fieldNames.contains("code"),
      "int8 payload must survive delete+upsert")
    assert(Ann.searchIvfIndex(spark, i8Path, probes, "vec_id", "embedding",
      k = 5, nProbe = 16).count() > 0)
  }

  test("compactIvfIndex: fragmented lists fold to few files, search unchanged") {
    import org.apache.hadoop.fs.Path
    val cPath = tmpPath("ivf_compact")
    val third = (i: Int) => embs.filter(pmod(col("vec_id"), lit(3L)) === i)
    Ann.buildIvfIndex(third(0), "vec_id", "embedding", cPath,
      numCentroids = 8)
    (1 to 2).foreach(i =>
      Ann.appendToIvfIndex(third(i), "vec_id", "embedding", cPath))
    val probes = embs.filter(col("vec_id") < 6)
    def res() = Ann.searchIvfIndex(spark, cPath, probes, "vec_id",
        "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val beforeRes = res()
    val fs = new Path(cPath).getFileSystem(spark.sessionState.newHadoopConf())
    def maxFiles(): Int = {
      var mx = 0
      val it = fs.listFiles(new Path(s"$cPath/corpus"), true)
      val counts = scala.collection.mutable.Map.empty[String, Int]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) {
          val cid = f.getPath.toString.split("/corpus/")(1).split("/")(0)
          counts(cid) = counts.getOrElse(cid, 0) + 1
          mx = math.max(mx, counts(cid))
        }
      }
      mx
    }
    val fragBefore = maxFiles()
    val compacted = Ann.compactIvfIndex(spark, cPath, maxFilesPerList = 2)
    assert(compacted.nonEmpty, s"nothing compacted (max files $fragBefore)")
    assert(maxFiles() < fragBefore, "file count did not shrink")
    assert(res() === beforeRes, "compaction changed search results")
    assert(Ann.readIndexCorpus(spark, cPath).count() === embs.count())
    // already-compact index: second pass is a no-op
    assert(Ann.compactIvfIndex(spark, cPath, maxFilesPerList = 64) === Nil)
  }

  test("manifest commit protocol: uncommitted generations are invisible and swept; manifest flips state atomically") {
    import org.apache.hadoop.fs.Path
    val mPath = tmpPath("ivf_manifest")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", mPath, numCentroids = 8)
    val probes = embs.filter(col("vec_id") < 6)
    def res() = Ann.searchIvfIndex(spark, mPath, probes, "vec_id",
        "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val committed = res()
    // simulate a maintenance op that CRASHED after staging its rewrite
    // but before publishing the manifest: a stray gen dir under a live
    // list, holding rows that would corrupt results if read
    val fs = new Path(mPath).getFileSystem(spark.sessionState.newHadoopConf())
    val someCid = Ann.readIndexCorpus(spark, mPath)
      .select(col("cid")).distinct().orderBy(col("cid")).first().getInt(0)
    embs.limit(50)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), v => -v).as("vec"))
      .write.parquet(s"$mPath/corpus/cid=$someCid/gen=999")
    assert(res() === committed,
      "search must serve the committed state, not staged rubble")
    assert(Ann.readIndexCorpus(spark, mPath).count() === embs.count(),
      "corpus reads must resolve through the manifest")
    // the next maintenance op sweeps the crashed staging before its own
    val noTouch = spark.range(1).select((lit(-1L)).as("vec_id"))
    Ann.compactIvfIndex(spark, mPath, maxFilesPerList = 10000): Unit
    assert(!fs.exists(new Path(s"$mPath/corpus/cid=$someCid/gen=999")),
      "crashed staging must be garbage-collected")
    // upsert publishes ONE manifest: between ops the manifest count is 1
    Ann.upsertIntoIvfIndex(embs.limit(20), "vec_id", "embedding", mPath)
    val metas = fs.listStatus(new Path(mPath)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_meta_"))
    assert(metas.size === 1, s"expected one live manifest, got $metas")
    assert(res() === committed,
      "upserting the same vectors must converge to the same state")
    // a delete with no matching ids changes nothing (and returns 0)
    assert(Ann.deleteFromIvfIndex(spark, mPath, noTouch, "vec_id") === 0L)
  }

  test("deleting every row leaves an empty manifest; readers fail loudly, rebuild recovers") {
    val ePath = tmpPath("ivf_empty")
    val slice = embs.filter(col("vec_id") < 200)
    Ann.buildIvfIndex(slice, "vec_id", "embedding", ePath, numCentroids = 8)
    assert(Ann.deleteFromIvfIndex(spark, ePath,
      slice.select("vec_id"), "vec_id") === slice.count())
    assert(Ann.indexExists(spark, ePath),
      "an emptied index is still a committed index (empty manifest)")
    val e = intercept[IllegalArgumentException] {
      Ann.readIndexCorpus(spark, ePath).count()
    }
    assert(e.getMessage.contains("no live lists"))
    intercept[IllegalArgumentException] {
      Ann.searchIvfIndex(spark, ePath, slice.limit(2), "vec_id",
        "embedding", k = 3)
    }
    // rebuild recovers the path
    Ann.buildIvfIndex(slice, "vec_id", "embedding", ePath, numCentroids = 8)
    assert(Ann.readIndexCorpus(spark, ePath).count() === slice.count())
  }

  test("retrainIvfIndex: centroids+assignments swap atomically; exhaustive search invariant; int8 refused") {
    import org.apache.hadoop.fs.Path
    val rPath = tmpPath("ivf_retrain")
    // half-trained index + appended other half = the drift shape retrain fixes
    Ann.buildIvfIndex(embs.filter(pmod(col("vec_id"), lit(2L)) === 0),
      "vec_id", "embedding", rPath, numCentroids = 16)
    Ann.appendToIvfIndex(embs.filter(pmod(col("vec_id"), lit(2L)) === 1),
      "vec_id", "embedding", rPath)
    val probes = embs.filter(col("vec_id") < 6)
    def exhaustive() = Ann.searchIvfIndex(spark, rPath, probes, "vec_id",
        "embedding", k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probing every list = exact top-k among the corpus, independent of
    // centroids — so it must be BIT-IDENTICAL across a retrain
    val before = exhaustive()
    val n = Ann.readIndexCorpus(spark, rPath).count()
    assert(Ann.retrainIvfIndex(spark, rPath) === 16)
    assert(Ann.readIndexCorpus(spark, rPath).count() === n,
      "retrain must preserve every row")
    assert(exhaustive() === before,
      "exhaustive search must be invariant under re-assignment")
    // old generations (lists AND centroids) are swept; one manifest lives
    val fs = new Path(rPath).getFileSystem(spark.sessionState.newHadoopConf())
    val centGens = fs.listStatus(new Path(s"$rPath/centroids")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("gen="))
    assert(centGens === Seq("gen=1"), s"stale centroid gens: $centGens")
    val metas = fs.listStatus(new Path(rPath)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_meta_"))
    assert(metas.size === 1)
    // retrained index still prunes and searches at the default nProbe
    assert(Ann.searchIvfIndex(spark, rPath, probes, "vec_id", "embedding",
      k = 5, nProbe = 8).count() === probes.count() * 5)
    // shrinking k on retrain is allowed (fewer, fuller lists)
    assert(Ann.retrainIvfIndex(spark, rPath, numCentroids = Some(8)) === 8)
    assert(Ann.readIndexCorpus(spark, rPath).count() === n)
    // int8 indexes cannot be retrained in place: vectors are not
    // reconstructible from per-vector-scaled codes
    val r8Path = tmpPath("ivf_retrain_int8")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", r8Path,
      numCentroids = 8, codec = "int8")
    val e = intercept[IllegalArgumentException] {
      Ann.retrainIvfIndex(spark, r8Path)
    }
    assert(e.getMessage.contains("float codec"))
  }

  test("streaming index ingest: upserts idempotent, recrawls replace, in-stream compaction safe") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val all = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val b0 = all.filter(_._1 % 3 == 0)
    val b1 = all.filter(_._1 % 3 == 1)
    val b2 = all.filter(_._1 % 3 == 2)
    // recrawl: b0's first id re-delivered in batch 1 with a NEW vector —
    // must replace the stale one, not coexist with it
    val recrawlId = b0.head._1
    val shifted = b0.head._2.map(v => -v)
    val path = tmpPath("ivf_stream")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingIndexIngest.runStream(
      input.toDF().toDF("vec_id", "embedding"), path, "vec_id", "embedding",
      numCentroids = 8, compactEvery = Some(1), maxFilesPerList = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      Seq(b0.toSeq, b1.toSeq :+ ((recrawlId, shifted)), b2.toSeq).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val corpus = Ann.readIndexCorpus(spark, path)
    assert(corpus.count() === all.length,
      "recrawled id must replace its stale vector, not duplicate it")
    val stored = corpus.filter(col("id") === recrawlId)
      .select(col("vec")).collect()
    assert(stored.length === 1 &&
      stored.head.getSeq[Float](0) === shifted.toSeq,
      "index must hold the recrawled vector")
    // at-least-once redelivery: replaying the last batch converges to the
    // same state (bare append would double-insert here)
    Ann.upsertIntoIvfIndex(b2.toSeq.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    assert(Ann.readIndexCorpus(spark, path).count() === all.length)
    // index is searchable end to end after build + upserts + compactions
    val probes = embs.filter(col("vec_id") < 6)
    val res = Ann.searchIvfIndex(spark, path, probes, "vec_id", "embedding",
      k = 5, nProbe = 8)
    assert(res.groupBy(col("query_id")).count()
      .filter(col("count") === 5).count() === probes.count())
  }

  test("streaming ingest skips an empty first batch instead of training on it") {
    val ePath = tmpPath("ivf_stream_empty")
    val emptyBatch = embs.filter(lit(false))
    graft.streaming.StreamingIndexIngest.ingestBatch(emptyBatch, 0L, ePath,
      "vec_id", "embedding", numCentroids = 8)
    assert(!Ann.indexExists(spark, ePath),
      "an empty first batch must not train/create the index")
    // the first NON-empty batch trains; a later empty batch is a no-op
    graft.streaming.StreamingIndexIngest.ingestBatch(embs, 1L, ePath,
      "vec_id", "embedding", numCentroids = 8)
    assert(Ann.indexExists(spark, ePath))
    val n = Ann.readIndexCorpus(spark, ePath).count()
    graft.streaming.StreamingIndexIngest.ingestBatch(emptyBatch, 2L, ePath,
      "vec_id", "embedding", numCentroids = 8)
    assert(Ann.readIndexCorpus(spark, ePath).count() === n)
  }

  test("string id columns are refused loudly across the index API") {
    val sPath = tmpPath("ivf_strids")
    val strEmbs = embs.select(concat(lit("doc-"), col("vec_id")).as("vec_id"),
      col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Ann.buildIvfIndex(strEmbs, "vec_id", "embedding", sPath)
    }
    assert(e.getMessage.contains("integral id column"))
    Ann.buildIvfIndex(embs, "vec_id", "embedding", sPath, numCentroids = 8)
    intercept[IllegalArgumentException] {
      Ann.searchIvfIndex(spark, sPath, strEmbs, "vec_id", "embedding", k = 3)
    }
    intercept[IllegalArgumentException] {
      Ann.deleteFromIvfIndex(spark, sPath, strEmbs.select("vec_id"), "vec_id")
    }
    intercept[IllegalArgumentException] {
      Ann.autoTuneNProbe(spark, sPath, strEmbs,
        strEmbs.filter(col("vec_id") < "doc-3"), "vec_id", "embedding",
        k = 3, targetRecall = 0.5)
    }
  }

  /** `df` with the embedding of `id` replaced by `v`. */
  private def spoil(df: org.apache.spark.sql.DataFrame, id: Long,
      v: org.apache.spark.sql.Column) = df.withColumn("embedding",
    when(col("vec_id") === id, v).otherwise(col("embedding")))

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** `f` fails with a message naming `op`, the id and a null, a NaN or a
    * wrong number of components. */
  private def refused(op: String, id: Long)(f: => Any): Unit = {
    val e = intercept[Exception](f)
    assert(messages(e).exists(m => m.contains(op) && m.contains(s"id $id ") &&
      Seq("null", "NaN", "components").exists(m.contains)), messages(e))
  }

  test("null and NaN vectors are refused by id in build, append, upsert and probe routing; the index stays intact") {
    val vPath = tmpPath("ivf_bad_vectors")
    val slice = embs.filter(col("vec_id") < 300)
    val dim = slice.select(size(col("embedding"))).head().getInt(0)
    val nan = array((lit(Float.NaN) +: Seq.fill(dim - 1)(lit(0f))): _*)
    val nul = lit(null).cast(slice.schema("embedding").dataType)
    // a prefix of the vector, and the vector with one more component
    val short = org.apache.spark.sql.functions.slice(col("embedding"), 1,
      dim - 1)
    val long = concat(col("embedding"), array(lit(0.5f)))
    Ann.buildIvfIndex(slice, "vec_id", "embedding", vPath, numCentroids = 8)
    val before = Ann.readIndexCorpus(spark, vPath).count()
    Seq(nan, nul, short, long).foreach { bad =>
      // a refused rebuild leaves the existing index readable
      refused("buildIvfIndex", 7L) {
        Ann.buildIvfIndex(spoil(slice, 7L, bad), "vec_id", "embedding", vPath,
          numCentroids = 8)
      }
      refused("buildIvfIndex", 250L) {
        Ann.buildIvfIndex(spoil(slice, 250L, bad), "vec_id", "embedding",
          vPath, numCentroids = 8, lloydIters = 0)
      }
      val fresh = embs.filter(col("vec_id").between(300, 310))
        .withColumn("vec_id", col("vec_id") + 1000)
      refused("appendToIvfIndex", 1305L) {
        Ann.appendToIvfIndex(spoil(fresh, 1305L, bad), "vec_id", "embedding",
          vPath)
      }
      refused("upsertIntoIvfIndex", 5L) {
        Ann.upsertIntoIvfIndex(spoil(slice.filter(col("vec_id") < 10), 5L,
          bad), "vec_id", "embedding", vPath)
      }
      val probes = spoil(slice.filter(col("vec_id") < 3), 1L, bad)
      refused("probe routing", 1L) {
        Ann.searchIvfIndex(spark, vPath, probes, "vec_id", "embedding", k = 3)
      }
      refused("probe routing", 1L) {
        Ann.probedCidCount(spark, vPath, probes, "vec_id", "embedding",
          nProbe = 2)
      }
      assert(Ann.readIndexCorpus(spark, vPath).count() === before)
    }
    // clean inputs still pass every entry point
    val probes = slice.filter(col("vec_id") < 3)
    assert(Ann.searchIvfIndex(spark, vPath, probes, "vec_id", "embedding",
      k = 3).count() > 0)
    Ann.upsertIntoIvfIndex(slice.filter(col("vec_id") < 10), "vec_id",
      "embedding", vPath)
    assert(Ann.readIndexCorpus(spark, vPath).count() === before)
  }

  test("in-memory ivfTopK, ivfTopKInt8 and semDedupPairs refuse null and NaN vectors by id") {
    val slice = embs.filter(col("vec_id") < 300)
    val dim = slice.select(size(col("embedding"))).head().getInt(0)
    val nan = array((lit(Float.NaN) +: Seq.fill(dim - 1)(lit(0f))): _*)
    val nul = lit(null).cast(slice.schema("embedding").dataType)
    val probes = slice.filter(col("vec_id") < 3)
    val topKs = Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)](
      "ivfTopK" -> ((c, p, iters) => Ann.ivfTopK(c, p, "vec_id", "embedding",
        k = 3, numCentroids = 8, lloydIters = iters)),
      "ivfTopKInt8" -> ((c, p, iters) => Ann.ivfTopKInt8(c, p, "vec_id",
        "embedding", k = 3, numCentroids = 8, lloydIters = iters)))
    Seq(nan, nul).foreach { bad =>
      topKs.foreach { case (op, topK) =>
        // a centroid seed, a row only the list assignment reads, a probe
        refused(op, 7L)(topK(spoil(slice, 7L, bad), probes, 1).collect())
        refused(op, 250L)(topK(spoil(slice, 250L, bad), probes, 0).collect())
        refused(op, 1L)(topK(slice, spoil(probes, 1L, bad), 1).collect())
      }
      refused("semDedupPairs", 250L) {
        Ann.semDedupPairs(spoil(slice, 250L, bad), "vec_id", "embedding",
          0.99, numCentroids = 8, lloydIters = 0)
      }
    }
    // clean inputs still pass
    topKs.foreach { case (_, topK) =>
      assert(topK(slice, probes, 1).count() > 0)
    }
    Ann.semDedupPairs(slice, "vec_id", "embedding", 0.99, numCentroids = 8)
  }

  test("index search prunes at the path level: only probed lists are opened") {
    val probes = embs.filter(col("vec_id") < 3)
    Ann.buildIvfIndex(embs, "vec_id", "embedding", path, numCentroids = 32)
    val probed = Ann.probedCidCount(spark, path, probes, "vec_id",
      "embedding", nProbe = 4)
    val total = Ann.readIndexCorpus(spark, path)
      .select(col("cid")).distinct().count()
    assert(probed < total, s"probed $probed of $total lists — nothing pruned")
    // pruning happens at PATH-SELECTION time (the manifest resolves the
    // probed lists' live dirs; unprobed lists are never listed): the
    // corpus scan the search scores must reference ONLY probed cid dirs
    val scanned = Ann.searchScan(spark, path, probes, "vec_id", "embedding",
      nProbe = 4).lists.get
    val corpusFiles = scanned.inputFiles.filter(_.contains("/corpus/"))
    val scannedCids = corpusFiles
      .map(_.split("/cid=")(1).split("/")(0)).toSet
    assert(corpusFiles.nonEmpty && scannedCids.size.toLong <= probed,
      s"scanned lists $scannedCids exceed the $probed probed")
    // and a cid-scoped corpus read opens only those dirs
    val scoped = Ann.readIndexCorpus(spark, path, Some(Seq(0, 1)))
    val scopedCids = scoped.inputFiles
      .map(_.split("/cid=")(1).split("/")(0)).toSet
    assert(scopedCids.nonEmpty && scopedCids.subsetOf(Set("0", "1")),
      s"scoped read opened $scopedCids")
    // an empty selection opens nothing and keeps the corpus schema
    val none = Ann.readIndexCorpus(spark, path, Some(Nil))
    assert(none.schema === Ann.readIndexCorpus(spark, path).schema)
    assert(none.inputFiles.isEmpty && none.count() === 0)
  }

  test("manifest publish refuses to replace an existing generation: the race loser dies loudly, index readable throughout") {
    val rcPath = tmpPath("ivf_race")
    val slice = embs.filter(col("vec_id") < 300)
    Ann.buildIvfIndex(slice, "vec_id", "embedding", rcPath, numCentroids = 8)
    val base = Ann.readManifest(spark, rcPath)
    // writer A (the winner) publishes generation base+1 first
    val winner = base.copy(gen = base.gen + 1)
    Ann.writeManifest(spark, rcPath, winner)
    // writer B raced from the same base generation: on local FS a bare
    // rename would silently REPLACE _meta_<n+1> (POSIX rename(2)) — the
    // exists-check backstop must make it die loudly instead
    val e = intercept[IllegalStateException] {
      Ann.writeManifest(spark, rcPath,
        base.copy(gen = base.gen + 1, gens = base.gens.take(1)))
    }
    assert(e.getMessage.contains("lost a race"))
    assert(e.getMessage.contains("retry-with-rebase"))
    // the loser made no live-state change: readers see the winner
    assert(Ann.readManifest(spark, rcPath).gens === winner.gens)
    assert(Ann.readIndexCorpus(spark, rcPath).count() === slice.count())
    assert(Ann.searchIvfIndex(spark, rcPath,
      slice.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 3, nProbe = 8).count() > 0)
  }

  test("a fully-emptied index accepts upsert and append as pure inserts (streaming ingest unwedges)") {
    val uPath = tmpPath("ivf_empty_upsert")
    val slice = embs.filter(col("vec_id") < 300)
    Ann.buildIvfIndex(slice, "vec_id", "embedding", uPath, numCentroids = 8)
    assert(Ann.deleteFromIvfIndex(spark, uPath,
      slice.select("vec_id"), "vec_id") === slice.count())
    // upsert against the empty live map = pure insert, fresh manifest
    val half = slice.filter(pmod(col("vec_id"), lit(2L)) === 0)
    Ann.upsertIntoIvfIndex(half, "vec_id", "embedding", uPath)
    assert(Ann.readIndexCorpus(spark, uPath).count() === half.count())
    val probes = slice.filter(col("vec_id") < 3)
    assert(Ann.searchIvfIndex(spark, uPath, probes, "vec_id", "embedding",
      k = 3, nProbe = 8).count() > 0)
    // redelivery converges: the same batch upserted again changes nothing
    Ann.upsertIntoIvfIndex(half, "vec_id", "embedding", uPath)
    assert(Ann.readIndexCorpus(spark, uPath).count() === half.count())
    // the same revival works through plain append
    val aPath = tmpPath("ivf_empty_append")
    Ann.buildIvfIndex(slice, "vec_id", "embedding", aPath, numCentroids = 8)
    Ann.deleteFromIvfIndex(spark, aPath, slice.select("vec_id"), "vec_id")
    Ann.appendToIvfIndex(half, "vec_id", "embedding", aPath)
    assert(Ann.readIndexCorpus(spark, aPath).count() === half.count())
    // and through the streaming ingest router (the wedge ADVICE found)
    graft.streaming.StreamingIndexIngest.ingestBatch(half, batchId = 7L,
      uPath, "vec_id", "embedding", numCentroids = 8)
    assert(Ann.readIndexCorpus(spark, uPath).count() === half.count())
    // deleting from an emptied index is a no-op, not an error
    assert(Ann.deleteFromIvfIndex(spark, tmpEmptied(slice),
      slice.select("vec_id"), "vec_id") === 0L)
  }

  private def tmpEmptied(slice: org.apache.spark.sql.DataFrame): String = {
    val p = tmpPath("ivf_emptied_helper")
    Ann.buildIvfIndex(slice, "vec_id", "embedding", p, numCentroids = 8)
    Ann.deleteFromIvfIndex(spark, p, slice.select("vec_id"), "vec_id")
    p
  }

  test("bloom sidecars scope maintenance discovery and never change results") {
    import org.apache.hadoop.fs.Path
    val bPath = tmpPath("ivf_bloom")
    val noPath = tmpPath("ivf_bloom_off")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", bPath, numCentroids = 16)
    Ann.buildIvfIndex(embs, "vec_id", "embedding", noPath, numCentroids = 16)
    val fs = new Path(bPath).getFileSystem(spark.sessionState.newHadoopConf())
    val meta = Ann.readManifest(spark, bPath)
    // every live list carries a bloom sidecar after build
    meta.gens.foreach { case (c, g) =>
      assert(fs.exists(new Path(s"$bPath/blooms/c=${c}_g=$g.bloom")),
        s"list $c gen $g has no bloom sidecar")
    }
    // candidate resolution from ONE list's ids scopes discovery: the
    // candidate set contains that list and excludes most others (1e-4
    // fpp; deterministic — Spark's bloom hashing has no random seed)
    val someCid = meta.gens.keysIterator.min
    // materialized eagerly: later maintenance ops GC the generation the
    // lazy frame's file list points at
    val oneListIds = Ann.readIndexCorpus(spark, bPath, Some(Seq(someCid)))
      .select(col("id")).localCheckpoint(true)
    val cand = Ann.bloomCandidateCids(spark, bPath, meta.gens, oneListIds).get
    assert(cand.contains(someCid))
    assert(cand.size < meta.gens.size,
      s"bloom probe did not scope: ${cand.size} of ${meta.gens.size} lists")
    // a bloom-less index falls back to the full (id, cid) scan
    fs.delete(new Path(s"$noPath/blooms"), true)
    assert(Ann.bloomCandidateCids(spark, noPath,
      Ann.readManifest(spark, noPath).gens, oneListIds).isEmpty)
    // parity: the same delete + upsert on the bloom and bloom-less twins
    // yields identical search results (blooms are an accelerator only)
    val maintIds = embs.filter(pmod(col("vec_id"), lit(7L)) === 3)
    val d1 = Ann.deleteFromIvfIndex(spark, bPath,
      maintIds.select("vec_id"), "vec_id")
    val d2 = Ann.deleteFromIvfIndex(spark, noPath,
      maintIds.select("vec_id"), "vec_id")
    assert(d1 === d2)
    Ann.upsertIntoIvfIndex(maintIds.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", bPath)
    Ann.upsertIntoIvfIndex(maintIds.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", noPath)
    val probes = embs.filter(col("vec_id") < 6)
    def res(p: String) = Ann.searchIvfIndex(spark, p, probes, "vec_id",
        "embedding", k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(bPath) === res(noPath))
    assert(res(bPath).nonEmpty)
    // the rewrite refreshed the touched lists' blooms at the new gen;
    // GC left no sidecar for a superseded generation
    val after = Ann.readManifest(spark, bPath)
    val bloomFiles = fs.listStatus(new Path(s"$bPath/blooms")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("c="))
    bloomFiles.foreach { f =>
      val Array(c, g) = f.stripPrefix("c=").stripSuffix(".bloom").split("_g=")
      assert(after.gens(c.toInt) === g.toLong,
        s"bloom $f out of step with live gens ${after.gens}")
    }
    // plain append invalidates (drops) the touched live lists' blooms —
    // false negatives are impossible by construction
    val appendIds = embs.filter(col("vec_id") >= 480)
      .select(col("vec_id") + 100000, col("embedding"))
      .toDF("vec_id", "embedding")
    Ann.appendToIvfIndex(appendIds, "vec_id", "embedding", bPath)
    val after2 = Ann.readManifest(spark, bPath)
    val appendedCids = Ann.readIndexCorpus(spark, bPath)
      .filter(col("id") >= 100000)
      .select(col("cid")).distinct().collect().map(_.getInt(0)).toSet
    appendedCids.intersect(after.gens.keySet).foreach { c =>
      assert(!fs.exists(
        new Path(s"$bPath/blooms/c=${c}_g=${after2.gens(c)}.bloom")),
        s"stale bloom survived an in-place append on list $c")
    }
    // discovery over the partially bloom-less index is still correct:
    // bloom-less lists are unconditional candidates
    val cand2 = Ann.bloomCandidateCids(spark, bPath, after2.gens, oneListIds)
    cand2.foreach { cs =>
      appendedCids.intersect(after.gens.keySet)
        .foreach(c => assert(cs.contains(c),
          s"bloom-less list $c missing from candidates"))
    }
  }

  test("executor-side bloom probe (driver budget 0) matches the driver probe") {
    import org.apache.hadoop.fs.Path
    val p = tmpPath("ivf_bloom_exec")
    Ann.buildIvfIndex(embs, "vec_id", "embedding", p, numCentroids = 16)
    val meta = Ann.readManifest(spark, p)
    val someCid = meta.gens.keysIterator.min
    val oneListIds = Ann.readIndexCorpus(spark, p, Some(Seq(someCid)))
      .select(col("id")).localCheckpoint(true)
    // budget 0 forces every list's bloom OFF the driver: discovery must
    // go through the executor-side probe and return the SAME candidates
    val driverSide = Ann.bloomCandidateCids(spark, p, meta.gens, oneListIds)
    val execSide = Ann.bloomCandidateCids(spark, p, meta.gens, oneListIds,
      driverBudgetBytes = 0L)
    assert(driverSide.isDefined && execSide.isDefined)
    assert(execSide.get === driverSide.get,
      s"executor probe diverged: ${execSide.get} vs ${driverSide.get}")
    assert(execSide.get.contains(someCid))
    assert(execSide.get.size < meta.gens.size,
      "executor probe did not scope discovery")
    // a bit-corrupted (not just torn) sidecar degrades to an
    // unconditional candidate on BOTH legs, never an exception
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val otherCid = meta.gens.keysIterator.max
    val victim = new Path(s"$p/blooms/c=${otherCid}_g=${meta.gens(otherCid)}.bloom")
    val out = fs.create(victim, true)
    try out.write(Array.fill[Byte](64)(0x55)) finally out.close()
    for (budget <- Seq(Ann.bloomCandidateCidsDefaultBudget, 0L)) {
      val cand = Ann.bloomCandidateCids(spark, p, meta.gens, oneListIds,
        driverBudgetBytes = budget)
      assert(cand.isDefined && cand.get.contains(otherCid),
        s"corrupt sidecar not an unconditional candidate at budget $budget")
    }
  }
}
