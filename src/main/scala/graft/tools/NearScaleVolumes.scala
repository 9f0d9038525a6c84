package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Volume probe behind the `[scale_r13]` 64× decade: counts every
  * intermediate of the PPJoin near-dup shape (exploded shingles,
  * rare-gram prefix rows, raw prefix-join candidates, positional-
  * filter survivors, verified pairs) at k× the corpus under the same
  * per-replica token bijection ScaleDryRun uses. If every ratio
  * doubles when k doubles, the PLAN is linear — a wall-time bend at
  * high k is then a single-JVM environment ceiling (per-task volume,
  * GC) rather than operator super-linearity, which is the
  * distinction the 100 TB argument turns on.
  * Run: sbt "runMain graft.tools.NearScaleVolumes [k ...]"
  */
object NearScaleVolumes {
  def main(args: Array[String]): Unit = {
    val ks = if (args.isEmpty) Seq(16, 32, 64) else args.map(_.toInt).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.TextShingles.mkShingles

    val docs = graft.sources.Tables.documents(spark, dir)
    def volumes(k: Int): Unit = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i)
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1~r$i")))
        .reduce(_ unionAll _)
      val sh = Materialize.eager("vol.sh",
        d.select(col("doc_id"), mkShingles(col("text")).as("sh"))
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("n", size(col("sh"))))
      val ex = sh.select(col("doc_id"), col("n"), explode_outer(col("sh")).as("s"))
        .where(col("s").isNotNull)
      val nEx = ex.count()
      val wdf = Window.partitionBy("s")
      val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
      val pref = Materialize.eager("vol.pref",
        ex.withColumn("df", count(lit(1)).over(wdf))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= col("n") - ceil(col("n") * lit(0.6)).cast("int") + 1)
          .select("doc_id", "s", "rk", "n"))
      val nPref = pref.count()
      val pa = pref.select(col("doc_id").as("a_id"), col("s"),
        col("rk").as("rka"), col("n").as("na"))
      val pb = pref.select(col("doc_id").as("b_id"), col("s"),
        col("rk").as("rkb"), col("n").as("nb"))
      val lenOk = greatest(col("na"), col("nb")) * 3 <=
        least(col("na"), col("nb")) * 5
      val raw = pa.join(pb, "s").where(col("a_id") < col("b_id") && lenOk)
      val nRaw = raw.count()
      val bound = least(col("rka") - 1, col("rkb") - 1) +
        least(col("na") - col("rka"), col("nb") - col("rkb")) + lit(1)
      val cand = raw.groupBy("a_id", "b_id", "na", "nb").agg(min(bound).as("mb"))
        .where(col("mb") * 8 >= (col("na") + col("nb")) * 3)
        .select("a_id", "b_id")
      val nCand = cand.count()
      val nVer = graft.functions.TextShingles.verifyJaccard06(cand, sh).count()
      println(f"[near_vol] k=$k%2d  exploded=$nEx%10d  prefix=$nPref%9d  raw_cand=$nRaw%9d  pos_cand=$nCand%8d  verified=$nVer%7d")
    }
    volumes(1) // warm
    ks.foreach(volumes)
    spark.stop()
  }
}
