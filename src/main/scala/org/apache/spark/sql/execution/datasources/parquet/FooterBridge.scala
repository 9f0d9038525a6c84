package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark keeps its footer-to-schema conversion package-private. This
  * bridge lives in Spark's parquet package solely to re-expose it for
  * [[graft.sources.ParquetSchema]]: the footer is read the way Spark's
  * schema inference reads it (row groups skipped), and
  * `ParquetFileFormat.readSchema` converts it with the session's own
  * SQLConf, preferring the Spark row-metadata key when present.
  */
object FooterBridge {
  def schema(spark: SparkSession, hadoopConf: Configuration, file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // nullable, as every file-source relation reports its data schema
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).get.asNullable
  }

  /** The session's Hadoop configuration, as Spark's own reads build it. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
}
