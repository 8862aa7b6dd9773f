package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  * One parquet file per table under `/root/testdata/sf*`/.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** A table's declared row key: an integer expression over a few of its
    * own columns that the key-mod designs (systematic `key % step`, block
    * `(key / size) % skip`, priority hashes, the grouped adaptive ladder)
    * stride over. `sql` is the one text both Spark and the DuckDB oracles
    * evaluate; `columns` are the columns it reads. */
  final case class RowKey(sql: String, columns: Seq[String]) {
    def column: Column = org.apache.spark.sql.functions.expr(sql)
  }

  /** lineitem's row key. The multipliers are odd primes coprime to every
    * step in use, so for dense orderkeys the key is uniform mod any step
    * (a multiplier sharing a factor with the step would wipe out residue
    * classes — ×8 makes `key % 8 == 0` impossible when l_linenumber ∈
    * 1..7). Max value ~1.2e16 at 100 TB scale: no ANSI overflow. Reading
    * two integer columns, a sample decodes only what the query needs.
    *
    * NOT UNIQUE ON EVERY FIXTURE: `(l_orderkey, l_linenumber)` is unique
    * on a TPC-H-shaped lineitem, but the oracle fixtures repeat pairs —
    * sf0.1 has 600,000 rows over 456,861 distinct pairs and sf0.01 60,000
    * over 45,832, up to 6 rows per pair. Rows that share a pair share a
    * key and are sampled together: each row is still kept with
    * probability 1/step, so estimators stay unbiased, but the clustering
    * widens their variance (a cluster design effect of ~1.56 on these
    * fixtures). Residue balance on sf0.1 is as good as a random hash at
    * that size (min/max bucket ratio 0.99 at step 10, 0.94 at step 100). */
  val lineitemKey: RowKey = RowKey("(l_orderkey * 8191 + l_linenumber * 131)",
    Seq("l_orderkey", "l_linenumber"))

  /** Declared row keys by table name (lower case). */
  val rowKeys: Map[String, RowKey] = Map("lineitem" -> lineitemKey)

  /** The fallback key for a table with no declared row key: a content
    * hash of the full row. Unlike `monotonically_increasing_id()` (whose
    * values depend on the physical partitioning, so a "systematic" sample
    * through it is neither reproducible across runs nor a fixed row set),
    * `xxhash64(struct(cols))` is a pure function of row content — the
    * same rows are selected on any cluster layout. It reads and hashes
    * every column of every row. Folded to 63 bits so `pmod` arithmetic
    * never sees Long.MinValue. */
  def contentKey(df: DataFrame): Column = {
    import org.apache.spark.sql.functions.{abs, col, struct, xxhash64}
    abs(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))
  }

  /** The sampling key of `df`, a frame over the table registered as
    * `table`: the table's declared row key when it has one, `df` has its
    * columns and the key evaluates to BIGINT, else [[contentKey]]. (An
    * INT `l_orderkey` would make the key INT, and ANSI mode throws on its
    * overflow past orderkey 262,143.) */
  def samplingKey(table: String, df: DataFrame): Column = {
    val have = df.columns.map(_.toLowerCase).toSet
    rowKeys.get(table.toLowerCase)
      .filter(_.columns.forall(c => have(c.toLowerCase)))
      .map(_.column)
      .filter(k => df.select(k).schema.head.dataType ==
        org.apache.spark.sql.types.LongType)
      .getOrElse(contentKey(df))
  }

  /** Per-session relation cache (round-14 optimization): resolving a
    * parquet relation costs ~60 ms per call on this host (file listing +
    * footer schema inference + plan construction), and the bench's timed
    * loop re-resolves every table on every repetition — pure driver-side
    * METADATA work, re-done for identical inputs. Key = (session, file
    * path, mtime, size); the value is the immutable resolved DataFrame
    * (an unexecuted logical plan). No DATA is cached: every action on the
    * returned frame still scans the parquet file — this is the same
    * metadata reuse a catalog table gets from Spark's own
    * FileStatusCache, made explicit for path-based reads. Sessions are
    * weak keys so test sessions don't pin their plans; a rewritten
    * fixture (mtime/size change) misses the cache and re-resolves.
    * Only regular files are cached — directory inputs (mtime does not
    * reflect child changes) always re-resolve. */
  private val relationCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, Long, Long), DataFrame]]()

  /** Load a fixture, normalizing any `timestamp[us]`-without-zone column
    * (Spark: TIMESTAMP_NTZ) to session-zoned TIMESTAMP. Every session here
    * pins `spark.sql.session.timeZone=UTC`, so the cast is a wall-clock
    * identity and agrees with DuckDB's naive reading of the same file —
    * while letting the rest of the engine use the zoned timestamp
    * functions (`unix_micros`, window(), date arithmetic vs TIMESTAMP
    * literals) uniformly, whichever physical type the generator wrote. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val f = new java.io.File(p)
    if (!f.isFile) doLoad(spark, p)
    else {
      val perSession = relationCache.synchronized {
        relationCache.computeIfAbsent(spark, _ =>
          new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), DataFrame]())
      }
      perSession.computeIfAbsent((p, f.lastModified(), f.length()),
        _ => doLoad(spark, p))
    }
  }

  private def doLoad(spark: SparkSession, p: String): DataFrame = {
    val df = spark.read.parquet(p)
    df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name).cast("timestamp"))
      }
  }

  /** Register every fixture table as a temp view so `spark.sql` can see the
    * same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** Normalize the fixture's `ts` column to session-zoned TIMESTAMP,
    * whatever physical type the generator wrote:
    *  - INT64 TIMESTAMP(NANOS) arrives as a long (under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`) → truncate ns→us,
    *    exactly what DuckDB's reader does, so oracle timestamps agree;
    *  - `timestamp[us]` without a zone arrives as TIMESTAMP_NTZ → cast to
    *    TIMESTAMP; sessions pin `spark.sql.session.timeZone=UTC`, so the
    *    wall-clock reinterpretation is the identity and matches DuckDB's
    *    naive-timestamp reading;
    *  - already TIMESTAMP → no-op.
    * Works on batch and streaming frames (pure projection). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
