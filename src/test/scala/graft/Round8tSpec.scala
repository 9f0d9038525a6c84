package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 twentieth-wave anchors: cycle times, aging bands, vendor
  * concentration and co-supplier pairs replayed from collected order
  * and lineitem rows at sf0.001.
  */
class Round8tSpec extends AnyFunSuite {
  import TestSpark._

  test("agg_order_cycle replays cycle stats at sf0.001") {
    val cyc = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .agg(datediff(max(to_date(col("l_shipdate"))),
        to_date(col("o_orderdate"))).cast("long").as("cycle"))
      .select("o_orderkey", "o_orderpriority", "cycle")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val got = SparkEntry.queries("agg_order_cycle")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2), x.getLong(3)))
      .toMap
    for ((pri, rows) <- cyc.groupBy(_._2)) {
      val sorted = rows.sortBy(x => (x._3, x._1))
      val n = sorted.length
      val (gn, gmean, gp50) = got(pri)
      assert(gn == n)
      assert(math.abs(gmean -
        r(sorted.map(_._3).sum.toDouble / n, 4)) <= 1e-9)
      assert(gp50 == sorted((n + 1) / 2 - 1)._3, s"$pri p50")
    }
  }

  test("agg_backlog_aging bands partition the open orders at sf0.001") {
    val o = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_orderstatus"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice"))
      .collect().map(x => (x.getString(0), x.getDate(1).toLocalDate,
        BigDecimal(x.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val hmax = o.map(_._2).max(Ordering.by((d: java.time.LocalDate) =>
      d.toEpochDay))
    val open = o.filter(_._1 != "F")
    val exp = open.groupBy { x =>
      (x._1, math.min(java.time.temporal.ChronoUnit.DAYS
        .between(x._2, hmax) / 30, 12L))
    }.map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._3).sum) }
    val got = SparkEntry.queries("agg_backlog_aging")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(got.keySet == exp.keySet.map(identity))
    for ((k, (n, v)) <- exp) {
      assert(got(k)._1 == n, s"$k count")
      assert(math.abs(got(k)._2 - v.toDouble) <= 1e-6, s"$k value")
    }
    assert(got.values.map(_._1).sum == open.length)
  }

  test("agg_vendor_concentration shares replay and bound at sf0.001") {
    val ps = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy("l_partkey", "l_suppkey")
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(18,0)").cast("long").as("rev"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val per = ps.groupBy(_._1).toSeq.map { case (_, xs) =>
      val revs = xs.map(_._3)
      (math.min(xs.length.toLong, 5L),
        BigDecimal(r(revs.max.toDouble / revs.sum, 8)))
    }
    val exp = per.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.size.toLong, r(xs.map(_._2).sum.toDouble / xs.size, 6)) }
    val got = SparkEntry.queries("agg_vendor_concentration")(spark, sf0001)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(got.keySet == exp.keySet)
    for ((b, (n, m)) <- exp) {
      assert(got(b)._1 == n)
      assert(math.abs(got(b)._2 - m) <= 1e-9, s"band $b")
      assert(got(b)._2 > 0.0 && got(b)._2 <= 1.0 + 1e-9)
    }
  }

  test("join_cosupplier_pairs matches a brute-force pair count at sf0.001") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_suppkey").distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val counts = collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((_, supps) <- li.groupBy(_._1)) {
      val s = supps.map(_._2).sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        counts((s(i), s(j))) += 1
    }
    val expected = counts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
      .map { case ((a, b), n) => (a, b, n) }
    val got = SparkEntry.queries("join_cosupplier_pairs")(spark, sf0001)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(got.toSeq == expected)
  }
}
