package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.tools.JsonStr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing query names: dump only those (local iteration);
    // the driver passes exactly two args and gets the full surface
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    var nFailed = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${graft.tools.CauseChain(e)}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonStr(k)}: ${JsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // red build on any erroring query (same rationale as Bench's gate:
    // a failure must never ride under rc=0) — every dump and the oracle
    // JSON above are already written, so downstream compares still run
    if (nFailed > 0) {
      System.err.println(s"[verify] RED: $nFailed queries failed")
      sys.exit(1)
    }
  }
}
