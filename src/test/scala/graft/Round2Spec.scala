package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-2 surface additions (§2.N):
  * subqueries, cumulative windows, interval arithmetic, salted
  * aggregation, multi-probe ANN, and dedup clustering.
  */
class Round2Spec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Round2Queries

  test("sub_scalar keeps only orders above 1.5x the exact mean") {
    val rows = Round2Queries.queries("sub_scalar")(spark, sf0001)
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val n = orders.count().toDouble
    val total = orders.agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .head.getDouble(0)
    val expected = orders.where(col("o_totalprice") * n > 1.5 * total).count()
    assert(rows.count() == expected && expected > 0)
  }

  test("sub_in equals a manual left-semi join") {
    val got = Round2Queries.queries("sub_in")(spark, sf0001)
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val cust = graft.sources.Tables.customer(spark, sf0001)
    val expected = cust.join(
      orders.where(col("o_totalprice") > 400000.0).select(col("o_custkey").as("c_custkey")),
      Seq("c_custkey"), "left_semi").count()
    assert(got.count() == expected && expected > 0)
  }

  test("sub_exists rows have an F order and no >450k order") {
    val got = Round2Queries.queries("sub_exists")(spark, sf0001)
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val withHuge = orders.where(col("o_totalprice") > 450000.0)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val withF = orders.where(col("o_orderstatus") === "F")
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val keys = got.collect().map(_.getLong(0))
    assert(keys.nonEmpty)
    assert(keys.forall(k => withF.contains(k) && !withHuge.contains(k)))
  }

  test("sub_lateral returns at most 2 orders per customer, price-descending") {
    val got = Round2Queries.queries("sub_lateral")(spark, sf0001)
    val perCust = got.groupBy("c_custkey").agg(count(lit(1)).as("n"))
      .agg(max("n")).head.getLong(0)
    assert(perCust <= 2)
    val bad = got.withColumn("prev",
      lag("o_totalprice", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("c_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("prev").isNotNull && col("prev") < col("o_totalprice")).count()
    assert(bad == 0)
  }

  test("win_cume_dist ratios are in (0,1] and cd >= pr") {
    val got = Round2Queries.queries("win_cume_dist")(spark, sf0001)
    val bad = got.where(col("cd") < col("pr") || col("cd") <= 0 || col("cd") > 1
      || col("pr") < 0 || col("pr") > 1).count()
    assert(bad == 0 && got.count() > 0)
  }

  test("fn_interval plus3d is exactly 72h after ts") {
    val got = Round2Queries.queries("fn_interval")(spark, sf0001)
    val ev = graft.sources.Tables.events(spark, sf0001).select("event_id", "ts")
    val bad = got.join(ev, "event_id")
      .where(col("plus3d").cast("timestamp").cast("long")
        - col("ts").cast("timestamp").cast("long") =!= 3L * 86400).count()
    assert(bad == 0)
  }

  test("agg_skew_salted equals the direct unsalted aggregation") {
    val salted = Round2Queries.queries("agg_skew_salted")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val direct = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
      .collect().map(_.toString).toSeq
    assert(salted == direct && salted.nonEmpty)
  }

  test("llm_ann_multiprobe probes a superset of the single-probe bucket") {
    val multi = graft.operators.AnnQueries.queries("llm_ann_multiprobe")(spark, sf0001)
    val single = graft.operators.AnnQueries.queries("llm_ann_lsh")(spark, sf0001)
    // candidate set is a strict superset, so the top-k list is at least
    // as long and its k-th score at least as good
    assert(multi.count() >= single.count())
  }

  test("fn_url extraction matches the URL's construction parts") {
    val got = Round2Queries.queries("fn_url")(spark, sf0001)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("lang"))
    val bad = got.join(docs, "doc_id")
      .where(col("host") =!= concat(col("source"), lit(".example.com"))
        || col("proto") =!= "https"
        || col("qid") =!= col("doc_id").cast("string")).count()
    assert(bad == 0 && got.count() > 0)
  }

  test("llm_heavy_hitters count-min estimate never undercounts") {
    val got = Round2Queries.queries("llm_heavy_hitters")(spark, sf0001)
    assert(got.where(col("cm_est") < col("cnt")).count() == 0)
    assert(got.count() == 20)
  }

  test("win_sessionize: session index is positive, non-decreasing per user") {
    val got = Round2Queries.queries("win_sessionize")(spark, sf0001)
    assert(got.where(col("session_idx") < 1).count() == 0)
    val ev = graft.sources.Tables.events(spark, sf0001).select("event_id", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val dec = got.join(ev, "event_id")
      .withColumn("prev", lag("session_idx", 1).over(w))
      .where(col("prev").isNotNull && col("session_idx") < col("prev")).count()
    assert(dec == 0)
  }

  test("join_null_safe matches NULL keys to the NULL group") {
    val got = Round2Queries.queries("join_null_safe")(spark, sf0001)
    val orders = graft.sources.Tables.orders(spark, sf0001)
    // every order row survives the null-safe join exactly once
    assert(got.count() == orders.count())
    val pCount = orders.where(col("o_orderstatus") === "P").count()
    if (pCount > 0) {
      // NULL-key rows carry the NULL group's size, which an equi-join drops
      val nullRows = got.where(col("k").isNull)
      assert(nullRows.count() == pCount)
      assert(nullRows.where(col("k_rows") =!= pCount).count() == 0)
    }
  }

  test("set_except_all keeps max(multiplicity difference, 0) per key") {
    val got = Round2Queries.queries("set_except_all")(spark, sf0001)
      .groupBy("k").agg(count(lit(1)).as("got_n"))
    val lc = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ln"))
    val oc = graft.sources.Tables.orders(spark, sf0001)
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("on"))
    val expect = lc.join(oc, Seq("k"), "full_outer")
      .select(col("k"),
        greatest(coalesce(col("ln"), lit(0L)) - coalesce(col("on"), lit(0L)), lit(0L)).as("exp_n"))
      .where(col("exp_n") > 0)
    val bad = got.join(expect, Seq("k"), "full_outer")
      .where(coalesce(col("got_n"), lit(-1L)) =!= coalesce(col("exp_n"), lit(-1L))).count()
    assert(bad == 0 && got.count() > 0)
  }

  test("fn_encode round-trips text through base64 losslessly") {
    val got = Round2Queries.queries("fn_encode")(spark, sf0001)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
    val bad = got.join(docs, "doc_id")
      .where(col("rt_len") =!= col("text_len")
        || col("b64").contains("\r") || col("b64").contains("\n")).count()
    assert(bad == 0 && got.count() > 0)
  }

  test("win_range_time frame always contains the current row") {
    val got = Round2Queries.queries("win_range_time")(spark, sf0001)
    assert(got.where(col("n_last_hour") < 1).count() == 0)
    assert(got.where(col("min_last_hour") > col("max_last_hour")).count() == 0)
    // some user has >1 event within an hour, else the frame is untested
    assert(got.where(col("n_last_hour") > 1).count() > 0)
  }

  test("llm_dedup_cluster endpoints of every pair share a cluster id") {
    val labels = Round2Queries.queries("llm_dedup_cluster")(spark, sf001)
    val pairs = graft.operators.ScaleQueries.queries("llm_dedup_simhash")(spark, sf001)
    val la = labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb"))
    val broken = pairs.join(la, "doc_a").join(lb, "doc_b")
      .where(col("ca") =!= col("cb")).count()
    assert(broken == 0)
    // canonical id is the component minimum, so cluster_id <= doc_id
    assert(labels.where(col("cluster_id") > col("doc_id")).count() == 0)
  }
}
