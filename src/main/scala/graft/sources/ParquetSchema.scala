package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema resolution: one footer read, no Spark job.
  *
  * A schema-less `spark.read.parquet(p)` infers its schema with a
  * one-task schema-merge job, started while the DataFrame is being
  * built. `spark.read.schema(ParquetSchema.of(spark, p)).parquet(p)`
  * reads the same schema from a single footer on the driver instead.
  * The footer is converted with the session's SQLConf at call time, so
  * `nanosAsLong`, `inferTimestampNTZ` and `binaryAsString` apply exactly
  * as in Spark's own inference, which also reads one footer when schema
  * merging is off. The result is what `spark.read.parquet(p).schema`
  * reports: every field nullable, Spark's row metadata preferred over
  * the parquet types when the file carries it.
  *
  * `path` is a single parquet file or a directory of part files written
  * by one writer. For a directory the first data file by path order is
  * read, skipping names that start with `_` or `.` (`_SUCCESS`, CRC
  * files). Partitioned layouts and directories whose part files differ
  * in schema need Spark's discovery (`mergeSchema`, partition columns)
  * and are not for this helper; a partitioned layout has no data file
  * at its top level and fails here.
  *
  * Stateless: every call opens its footer again; nothing is memoized.
  */
object ParquetSchema {

  def of(spark: SparkSession, path: String): StructType = {
    val conf = FooterBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"parquet path does not exist: $path")
    val st = fs.getFileStatus(p)
    val file =
      if (st.isFile) st
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
        .headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file under $path to read a schema from"))
    FooterBridge.schema(spark, conf, file)
  }

  /** `spark.read.parquet(path)` with the schema from [[of]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(of(spark, path)).parquet(path)
}
