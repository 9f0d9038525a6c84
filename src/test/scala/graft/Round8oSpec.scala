package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 fifteenth-wave anchors: Atkinson / Palma / ABC / quantile
  * ratios replayed from collected revenue and value lists at sf0.001.
  */
class Round8oSpec extends AnyFunSuite {
  import TestSpark._

  /** (nationkey, custkey, revenue-centi) for customers with orders. */
  private lazy val custRev: Seq[(Long, Long, Long)] = {
    val o = graft.sources.Tables.orders(spark, sf0001)
      .groupBy("o_custkey")
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(18,0)").cast("long").as("rev"))
    o.join(graft.sources.Tables.customer(spark, sf0001)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk")),
        col("o_custkey") === col("c_custkey"))
      .select("nk", "o_custkey", "rev").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
  }

  test("agg_atkinson replays and sits in [0, 1) at sf0.001") {
    val got = SparkEntry.queries("agg_atkinson")(spark, sf0001).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    for ((nk, rows) <- custRev.groupBy(_._1)) {
      val revs = rows.map(_._3)
      val ssqrt = revs.map(v =>
        BigDecimal(r(math.sqrt(v.toDouble), 8))).sum.toDouble
      val a = r(1.0 - ssqrt * ssqrt / (revs.length.toDouble * revs.sum), 6)
      val (gn, ga) = got(nk)
      assert(gn == revs.length)
      assert(math.abs(ga - a) <= 1e-9, s"nation $nk: $ga vs $a")
      assert(ga >= 0.0 && ga < 1.0)
    }
  }

  test("agg_palma_ratio replays the rank-group shares at sf0.001") {
    val got = SparkEntry.queries("agg_palma_ratio")(spark, sf0001).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    for ((nk, rows) <- custRev.groupBy(_._1)) {
      val sorted = rows.sortBy(x => (x._3, x._2))
      val n = sorted.length
      val top = sorted.drop(n - n / 10).map(_._3).sum
      val bot = sorted.take(4 * n / 10).map(_._3).sum
      val exp = if (bot > 0) Some(r(top.toDouble / bot, 6)) else None
      assert(got(nk) == exp || (got(nk).isDefined && exp.isDefined &&
        math.abs(got(nk).get - exp.get) <= 1e-9), s"nation $nk")
    }
  }

  test("agg_abc_class partitions all parts and shares sum to 1 at sf0.001") {
    val got = SparkEntry.queries("agg_abc_class")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    val nParts = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_partkey").distinct().count()
    assert(got.keySet.subsetOf(Set("A", "B", "C")))
    assert(got.values.map(_._1).sum == nParts)
    val shareSum = got.values.map(_._2).sum
    assert(math.abs(shareSum - 1.0) <= 1e-5, s"shares sum $shareSum")
    // A carries ≤80% of mass by construction (the boundary part tips
    // into B), and the class shares are ordered A ≥ B ≥ C only in
    // mass-per-boundary terms — the synthetic revenue distribution is
    // near-uniform, so no part-count skew is asserted
    for (a <- got.get("A")) assert(a._2 > 0.0 && a._2 <= 0.80 + 1e-9)
  }

  test("agg_quantile_ratio picks the exact discrete ranks at sf0.001") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("value"), col("event_id"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getLong(2)))
    val got = SparkEntry.queries("agg_quantile_ratio")(spark, sf0001)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    for ((et, rows) <- ev.groupBy(_._1)) {
      val sorted = rows.sortBy(x => (x._2, x._3)).map(_._2)
      val n = sorted.length
      val (gn, gp10, gp90) = got(et)
      assert(gn == n)
      assert(gp10 == sorted((n + 9) / 10 - 1), s"$et p10")
      assert(gp90 == sorted((9 * n + 9) / 10 - 1), s"$et p90")
    }
  }
}
