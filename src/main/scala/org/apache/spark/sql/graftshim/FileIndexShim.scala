package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet scans over directories the CALLER has already listed.
  *
  * `spark.read.parquet(dirs)` lists every dir (as a distributed job once
  * there are more than `parallelPartitionDiscovery.threshold` of them) and
  * infers the schema from a footer (another job). A caller that already
  * knows its partition directories — graft's IVF index resolves them from
  * its commit manifest — can list them on the driver and hand Spark the
  * listing, the partition spec and the data schema instead. The pieces it
  * needs are Spark-internal (`HadoopFSUtils` is `private[spark]`), so they
  * are reached through this accessor compiled inside the
  * `org.apache.spark` package tree; same pattern as [[ColumnShim]], no
  * Spark internals modified. */
object FileIndexShim {

  /** Would Spark's own leaf listing keep a file named `name`? (It drops
    * `_`/`.`-prefixed names such as `_SUCCESS` and `.crc` files, and
    * in-flight `._COPYING_` copies.) */
  def isDataFileName(name: String): Boolean =
    !HadoopFSUtils.shouldFilterOutPathName(name)

  /** The data schema Spark's parquet inference derives from `file`'s
    * footer with `mergeSchema` off: the Spark row-metadata schema it
    * stores, else the converted parquet schema. Read on the driver. */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** A parquet scan over pre-listed partition directories. Each entry is
    * (partition values in `partitionSchema` order, qualified dir, its data
    * files). Spark lists nothing and infers nothing: the file index is
    * served from these listings, partition pruning works on the given
    * spec, and the relation reads `dataSchema` (made nullable, as a read
    * through `DataFrameReader` does). */
  def listedParquet(spark: SparkSession, partitionSchema: StructType,
      dataSchema: StructType,
      dirs: Seq[(Seq[Any], Path, Array[FileStatus])]): DataFrame = {
    val listed = dirs.map { case (_, dir, files) => dir -> files }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        listed.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val spec = PartitionSpec(partitionSchema, dirs.map { case (values, dir, _) =>
      PartitionPath(InternalRow.fromSeq(values), dir) })
    val index = new InMemoryFileIndex(spark, dirs.map(_._2), Map.empty, None,
      cache, Some(spec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat(), Map.empty)(spark))
  }
}
