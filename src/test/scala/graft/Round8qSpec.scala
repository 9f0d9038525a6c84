package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 seventeenth-wave anchors: Holm vs BH set relations, a
  * Page's L replay, Cochran-Armitage and Fleiss ledger replays, at
  * sf0.001.
  */
class Round8qSpec extends AnyFunSuite {
  import TestSpark._

  test("agg_holm_bonferroni rejects a prefix of the p-ordering and is " +
      "never more liberal than BH at the same alpha at sf0.001") {
    val holm = SparkEntry.queries("agg_holm_bonferroni")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (x.getDouble(4), x.getLong(5), x.getBoolean(6)))
    // rejected set = exact prefix of p_rank
    val byRank = holm.map(_._2).sortBy(_._2)
    val nRej = byRank.count(_._3)
    assert(byRank.take(nRej).forall(_._3) && byRank.drop(nRej).forall(!_._3),
      "rejections are not a p_rank prefix")
    // step-down validity: every rejected rank i satisfies p <= a/(m-i+1)
    val m = byRank.length
    for ((p, i, rej) <- byRank if rej)
      assert(p * (m - i + 1) <= 0.10 + 1e-12)
    // Holm (FWER) is a subset of BH (FDR) at the same alpha on the
    // same family
    val bh = SparkEntry.queries("agg_fdr_bh")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getBoolean(6)).toMap
    for (((key), (_, _, rej)) <- holm if rej)
      assert(bh(key), s"Holm rejected $key but BH did not")
  }

  test("agg_page_trend replays the rank ledger at sf0.001") {
    val daily = graft.sources.Tables.events(spark, sf0001)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 100)
        .cast("decimal(18,0)").cast("long").as("xc"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val types = daily.map(_._1).distinct.sorted
    val k = types.length
    val jOf = types.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap
    val byDay = daily.groupBy(_._2).filter(_._2.length == k)
    var l = 0L
    for ((_, rows) <- byDay) {
      val ranked = rows.sortBy(x => (x._3, x._1)).zipWithIndex
      for ((row, idx) <- ranked) l += jOf(row._1) * (idx + 1L)
    }
    val b = byDay.size.toLong
    val mean = b.toDouble * k * (k + 1.0) * (k + 1.0) / 4.0
    val sd = math.sqrt(b.toDouble * k * k * (k + 1.0) * (k * k - 1.0) / 144.0)
    val row = SparkEntry.queries("agg_page_trend")(spark, sf0001).collect()(0)
    assert(row.getLong(0) == b && row.getLong(1) == k && row.getLong(2) == l)
    assert(math.abs(row.getDouble(3) - r((l - mean) / sd, 6)) <= 1e-9)
  }

  test("agg_cochran_armitage replays the band ledger at sf0.001") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) div 10").as("t"),
        (col("l_returnflag") === "R").as("ret"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val bands = li.groupBy(_._1).map { case (t, xs) =>
      (t, xs.length.toLong, xs.count(_._2).toLong) }
    val n = bands.map(_._2).sum; val rr = bands.map(_._3).sum
    val str = bands.map(b => b._1 * b._3).sum
    val stn = bands.map(b => b._1 * b._2).sum
    val st2n = bands.map(b => b._1 * b._1 * b._2).sum
    val tp = n * str - rr * stn
    val z = r(tp.toDouble * math.sqrt(n.toDouble) /
      math.sqrt(rr.toDouble * (n - rr) *
        (n.toDouble * st2n - stn.toDouble * stn)), 6)
    val row = SparkEntry.queries("agg_cochran_armitage")(spark, sf0001)
      .collect()(0)
    assert(row.getLong(0) == n && row.getLong(1) == rr)
    assert(row.getDouble(2) == tp.toDouble)
    assert(math.abs(row.getDouble(3) - z) <= 1e-9)
  }

  test("agg_fleiss_kappa replays from subject cells and is <= 1 at sf0.001") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_returnflag").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val subj = li.groupBy(_._1).filter(_._2.length == 4)
    val nsub = subj.size.toLong
    val s2 = subj.values.map(_.groupBy(_._2).values
      .map(g => g.length.toLong * g.length).sum).sum
    val cj = subj.values.flatten.groupBy(_._2).values
      .map(_.size.toLong)
    val sc2 = cj.map(c => c * c).sum
    val pbar = (s2.toDouble - nsub * 4.0) / (nsub * 4.0 * 3.0)
    val pe = sc2.toDouble / (nsub * 4.0 * nsub * 4.0)
    val row = SparkEntry.queries("agg_fleiss_kappa")(spark, sf0001)
      .collect()(0)
    assert(row.getLong(0) == nsub && row.getLong(1) == 4L)
    assert(math.abs(row.getDouble(2) - r(pbar, 6)) <= 1e-9)
    assert(math.abs(row.getDouble(3) - r(pe, 6)) <= 1e-9)
    assert(math.abs(row.getDouble(4) - r((pbar - pe) / (1.0 - pe), 6)) <= 1e-9)
    assert(row.getDouble(4) <= 1.0 + 1e-9)
  }
}
