package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Spark's own parquet listing and footer helpers, which are private to
  * `org.apache.spark.sql`, opened to `graft.ops.Tables.parquet`. Each
  * method is one call into Spark; which file to read is decided there.
  */
object FooterSchema {

  /** The files a batch parquet read of `paths` hands to schema inference:
    * Spark's own resolution of the paths (globs, a file sink's
    * `_spark_metadata` log, hidden-file filters, partition discovery),
    * given an empty schema so that nothing is inferred.
    */
  def listedFiles(spark: SparkSession, paths: Seq[String]): Seq[FileStatus] =
    DataSource(spark, className = "parquet", paths = paths, userSpecifiedSchema = Some(new StructType()))
      .resolveRelation()
      .asInstanceOf[HadoopFsRelation]
      .location
      .asInstanceOf[PartitioningAwareFileIndex]
      .allFiles()

  /** The schema inference takes from `file`'s footer: read on the driver
    * and converted as `ParquetFileFormat.mergeSchemasInParallel` converts
    * it under the session conf. None when the footer is corrupt and the
    * session ignores corrupt files.
    */
  def read(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat
      .readParquetFootersInParallel(spark.sessionState.newHadoopConf(), Seq(file), conf.ignoreCorruptFiles)
      .headOption
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
  }
}
