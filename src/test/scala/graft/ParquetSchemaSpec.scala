package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ParquetSchema, Tables}
import graft.tools.ArtifactStore

/** `ParquetSchema.of` reads the schema Spark would infer from one
  * footer on the driver: it must equal Spark's own inference wherever
  * graft uses it, and building a table loader or loading a stored
  * artifact must start no Spark job. */
class ParquetSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def assertSameAsInferred(s: SparkSession, p: String, clue: String): Unit = {
    val inferred = s.read.parquet(p).schema
    assert(ParquetSchema.of(s, p) == inferred, s"$clue: $p")
  }

  /** Jobs started by `body` on this thread, counted by a listener after
    * the bus is drained. Jobs are matched by a local property set only
    * for `body`, so jobs of other threads are not counted. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.span") == tag))
          n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.span", tag)
    try { body; TestListenerBus.drain(sc); n.get }
    finally {
      sc.setLocalProperty("graft.test.span", null)
      sc.removeSparkListener(listener)
    }
  }

  test("the footer schema equals Spark's inferred schema for every fixture table, nanosAsLong on and off") {
    for (dir <- Seq(sf0001, sf001, sf01); nanos <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set(NanosAsLong, nanos)
      tables.foreach(t => assertSameAsInferred(s, s"$dir/$t.parquet", s"nanosAsLong=$nanos"))
    }
  }

  test("the footer schema equals Spark's inferred schema for a multi-part directory and a published artifact") {
    val multi = s"${tempDir("graft-parquet-schema")}/orders"
    Tables.orders(spark, sf0001).repartition(3).write.parquet(multi)
    val parts = new java.io.File(multi).list().filter(_.endsWith(".parquet"))
    assert(parts.length >= 2, s"expected a multi-part directory, got ${parts.mkString(",")}")
    assertSameAsInferred(spark, multi, "multi-part directory")

    val root = tempDir("graft-parquet-schema-store")
    val s = spark.newSession()
    s.conf.set(ArtifactStore.RootFlag, root)
    // a non-nullable count and a nested column exercise Spark's row
    // metadata in the footer
    ArtifactStore.durable(s, sf0001, "schema.probe") {
      Tables.events(s, sf0001).groupBy("event_type")
        .agg(count(lit(1)).as("n"), collect_list(struct(col("ts"), col("value"))).as("xs"))
    }
    ArtifactStore.drainActions()
    assertSameAsInferred(s, ArtifactStore.path(root, sf0001, "schema.probe"), "published artifact")
  }

  test("building each Tables loader and loading a stored artifact start no Spark job") {
    // the counter sees the job a schema-less read starts
    assert(jobsDuring(spark)(spark.read.parquet(s"$sf0001/region.parquet").schema) >= 1)

    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
      "eventsRawNanos" -> Tables.eventsRawNanos _,
      "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)
    loaders.foreach { case (name, load) =>
      assert(jobsDuring(spark)(load(spark, sf0001).schema) == 0, s"Tables.$name")
    }

    val root = tempDir("graft-parquet-schema-load")
    val build = spark.newSession()
    build.conf.set(ArtifactStore.RootFlag, root)
    ArtifactStore.durable(build, sf0001, "schema.load")(Tables.nation(build, sf0001))
    val s = spark.newSession()
    s.conf.set(ArtifactStore.RootFlag, root)
    val jobs = jobsDuring(s) {
      ArtifactStore.durable(s, sf0001, "schema.load")(fail("a stored artifact must load, not build")).schema
    }
    assert(ArtifactStore.drainActions().lastOption.map(_._2) == Some("loaded"))
    assert(jobs == 0, "loading a stored artifact")
  }

  test("an empty or missing path fails with an error that names the path") {
    val missing = s"${tempDir("graft-parquet-schema-missing")}/absent.parquet"
    val e1 = intercept[IllegalArgumentException](ParquetSchema.of(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)

    val empty = tempDir("graft-parquet-schema-empty")
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val e2 = intercept[IllegalArgumentException](ParquetSchema.of(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)

    val noTables = tempDir("graft-parquet-schema-notables")
    val e3 = intercept[IllegalArgumentException](Tables.region(spark, noTables))
    assert(e3.getMessage.contains(s"$noTables/region.parquet"), e3.getMessage)
  }
}
