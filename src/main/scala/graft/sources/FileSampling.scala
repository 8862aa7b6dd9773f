package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  SubqueryAlias, View}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.exec.SampledFrame
import graft.model.SamplingStrategy

/** File-level cluster sampling over a parquet dataset — the design that
  * actually reduces I/O at 100 TB.
  *
  * Row-level designs (Bernoulli, key-mod systematic) are evaluated inside
  * the scan, so a sampled aggregate still reads every row group; on columnar
  * storage they buy variance reduction, never wall-clock (measured: a 10%
  * key-mod SUM is ~0.5× the speed of the exact SUM — it reads MORE columns).
  * The reference gets its speedups by physically skipping stretches of its
  * in-memory array (node_skip/block samplers R4/R14-R16,
  * custom_bplus_db.cpp:489-532, 1151-1271); the Spark-native equivalent of
  * "skip whole B+-tree leaves" is "never open 9 of 10 part-files":
  * inclusion-probability 1/step per file, scan cost ∝ 1/step, estimator
  * scale = totalFiles/pickedFiles (files ≈ equal-sized under standard
  * writer configs; the estimator is design-unbiased over the file-offset
  * randomization either way).
  *
  * Caveat (documented, same as any cluster design): variance depends on
  * between-file homogeneity. Files written from hash-partitioned data are
  * exchangeable; time-ordered ingests should use a randomized offset and
  * more, smaller files.
  */
object FileSampling {

  /** Keep every `step`-th part-file (starting at `offset`) of a parquet
    * directory and read only those. */
  def parquetFileSample(spark: SparkSession, path: String, step: Int,
      offset: Int = 0): SampledFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted
    fromFiles(spark, files.toIndexedSeq, step, offset)
  }

  /** Same design over an explicit file list: sort for a deterministic
    * assignment, keep indices ≡ offset (mod step). The picked files'
    * schema is inferred from their footers. */
  def fromFiles(spark: SparkSession, files: Seq[String], step: Int,
      offset: Int = 0): SampledFrame =
    sample(spark, files, None, step, offset)

  /** Same design over the part-files of a registered table (the
    * SpecExecutor `--method file` route). When the table is a plain
    * parquet relation (a view of it included), the picked files are read
    * with that relation's data schema, so no job runs to infer a schema
    * from their footers (`spark.read.parquet` without a schema starts a
    * `mergeSchemasInParallel` job). Any other table — a projection, a
    * partitioned relation, another format — falls back to inference over
    * the picked files, as [[fromFiles]] does. */
  def fromTable(table: DataFrame, step: Int, offset: Int = 0): SampledFrame =
    sample(table.sparkSession, table.inputFiles.toIndexedSeq,
      parquetDataSchema(table.queryExecution.analyzed), step, offset)

  /** The data schema of `plan` when it is a plain, unpartitioned parquet
    * relation under any number of aliases and views. */
  private def parquetDataSchema(plan: LogicalPlan): Option[StructType] =
    plan match {
      case SubqueryAlias(_, child) => parquetDataSchema(child)
      case v: View => parquetDataSchema(v.child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation
            if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
              r.partitionSchema.isEmpty => Some(r.dataSchema)
        case _ => None
      }
      case _ => None
    }

  private def sample(spark: SparkSession, files: Seq[String],
      schema: Option[StructType], step: Int, offset: Int): SampledFrame = {
    require(step >= 1 && offset >= 0 && offset < step)
    val sortedFiles = files.sorted
    require(sortedFiles.nonEmpty, "no parquet part-files to sample")
    val picked = sortedFiles.zipWithIndex.collect {
      case (f, i) if i % step == offset => f
    }
    require(picked.nonEmpty,
      s"offset $offset selects no files (have ${sortedFiles.length}, step $step)")
    val scale = sortedFiles.length.toDouble / picked.length
    val reader = schema.fold(spark.read)(spark.read.schema(_))
    SampledFrame(reader.parquet(picked: _*), scale,
      SamplingStrategy.FileLevel(step, offset))
  }
}
