package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftFunctions
import graft.streaming.StreamOps

class ExtensionsAndStreamOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("vec_dot and sorted_intersect_count usable from SQL after registration") {
    GraftFunctions.register(spark)
    graft.sources.Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM emb_sql ORDER BY vec_id LIMIT 5")
      .collect().map(_.getDouble(1))
    val viaCol = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.vecDot(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id").limit(5).collect().map(_.getDouble(1))
    assert(viaSql.toSeq == viaCol.toSeq)

    val ic = spark.sql(
      "SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS n").head.getInt(0)
    assert(ic == 2)

    val sh = spark.sql("SELECT shingles('d c b a d c b a') AS sh").head.getSeq[String](0)
    // distinct, UTF-8 byte-order sorted 3-grams
    assert(sh == Seq("a d c", "b a d", "c b a", "d c b"))
    val shShort = spark.sql("SELECT shingles('one  two') AS sh").head.getSeq[String](0)
    assert(shShort.isEmpty) // empty tokens dropped -> under 3 tokens
  }

  test("config-time descriptors and runtime registration list the same functions") {
    GraftFunctions.register(spark)
    val names = GraftFunctions.descriptors.map(_._1.funcName)
    assert(names == Seq("vec_dot", "sorted_intersect_count", "shingles", "char_grams"))
    for ((id, info, _) <- GraftFunctions.descriptors) {
      assert(info.getName == id.funcName)
      assert(info.getUsage.startsWith(id.funcName + "("))
      assert(spark.catalog.functionExists(id.funcName), s"${id.funcName} not registered")
    }
  }

  test("KernelNullRule reduces kernel null checks to input null checks") {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.KernelNullRule
    try {
      val df = graft.sources.Tables.documents(spark, sf0001)
        .where(graft.functions.TextShingles.mkShingles(col("text")).isNotNull)
        .select(col("doc_id"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.toLowerCase.contains("shinglearray"),
        s"kernel survived in the optimized filter:\n$opt")
      // semantics unchanged: the kernel never returns null for a
      // non-null input, so the rewrite keeps exactly the same rows
      assert(df.count() == graft.sources.Tables.documents(spark, sf0001)
        .where(col("text").isNotNull).count())
    } finally spark.experimental.extraOptimizations = prev
  }

  // the parquet file source streams a directory of log files; stage the
  // single test file into one
  private lazy val eventsLogDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-log")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      d.resolve("part-000.parquet"))
    d.toString
  }

  test("eventsStream runs the tumbling aggregation as a real stream") {
    val stream = StreamOps.eventsStream(spark, eventsLogDir)
    assert(stream.isStreaming)
    val q = StreamOps.tumblingCounts(stream, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("stream_ops_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_ops_out")
        .agg(sum("n")).head.getLong(0)
      val batch = graft.sources.Tables.events(spark, sf0001).count()
      assert(streamed == batch) // every event lands in exactly one window
    } finally q.stop()
  }

  test("stream-stream interval join (purchase -> error within 1 day)") {
    val p = StreamOps.eventsStream(spark, eventsLogDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 days")
    val x = StreamOps.eventsStream(spark, eventsLogDir)
      .where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("uid2"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 days")
    val joined = p.join(x,
      col("user_id") === col("uid2")
        && col("e_ts") > col("p_ts")
        && col("e_ts") <= col("p_ts") + org.apache.spark.sql.functions.expr("INTERVAL 1 DAY"))
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_join_out").count()
      // must equal the batch range-join declared query on the same data
      val batch = SparkEntry.queries("join_range_interval")(spark, sf0001).count()
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("dedupWithinWatermark is streaming-valid") {
    val stream = StreamOps.eventsStream(spark, eventsLogDir)
    val dedup = StreamOps.dedupWithinWatermark(stream, "1 hour", Seq("user_id", "event_type"))
    assert(dedup.isStreaming)
    val q = dedup.writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_stream_out").count()
      val distinctKeys = graft.sources.Tables.events(spark, sf0001)
        .select("user_id", "event_type").distinct().count()
      // all events arrive in one micro-batch => dedup keeps one row per key
      assert(n == distinctKeys)
    } finally q.stop()
  }
}
