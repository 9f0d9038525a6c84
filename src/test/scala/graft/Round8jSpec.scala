package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 tenth-wave anchors: the Wasserstein-1 statistic against a
  * direct driver-side CDF integral, and the TVD / Hellinger / Canberra
  * profiles against replays from collected counts, at sf0.001.
  */
class Round8jSpec extends AnyFunSuite {
  import TestSpark._

  test("agg_emd_wasserstein matches a driver CDF-integral replay at sf0.001") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"),
        (col("user_id") % 2 === 0).as("treat"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getBoolean(2)))
    val got = SparkEntry.queries("agg_emd_wasserstein")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for ((et, rows) <- ev.groupBy(_._1)) {
      val nt = rows.count(_._3).toLong
      val nc = rows.length - nt
      val support = rows.map(r => BigDecimal(r._2)).distinct.sorted
      var cumT = 0L; var cumC = 0L
      var num = BigInt(0)
      val byV = rows.groupBy(r => BigDecimal(r._2))
      for (i <- support.indices.dropRight(1)) {
        val blk = byV(support(i))
        cumT += blk.count(_._3); cumC += blk.count(!_._3)
        val gapMicro = ((support(i + 1) - support(i)) * 1000000).toBigInt
        num += BigInt(math.abs(cumT * nc - cumC * nt)) * gapMicro
      }
      val w1 = r(num.toDouble / (nt.toDouble * nc.toDouble * 1e6), 6)
      val (gnt, gnc, gw1) = got(et)
      assert(gnt == nt && gnc == nc, s"$et arms")
      assert(math.abs(gw1 - w1) <= 1e-9, s"$et w1: $gw1 vs $w1")
      assert(gw1 >= 0.0)
    }
  }

  test("agg_tvd_lang and agg_hellinger_lang replay from counts at sf0.001") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val langs = docs.map(_._2).distinct
    val nl = docs.groupBy(_._2).map { case (l, d) => l -> d.length.toLong }
    val ntot = docs.length.toLong
    val tvd = SparkEntry.queries("agg_tvd_lang")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hel = SparkEntry.queries("agg_hellinger_lang")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    for ((src, srows) <- docs.groupBy(_._1)) {
      val ns = srows.length.toLong
      val cell = srows.groupBy(_._2).map { case (l, d) => l -> d.length.toLong }
      val num = langs.map(l =>
        math.abs(cell.getOrElse(l, 0L) * ntot - nl(l) * ns)).sum
      val (gn, gtvd) = tvd(src)
      assert(gn == ns)
      assert(math.abs(gtvd - r(num.toDouble / (2.0 * ns * ntot), 6)) <= 1e-9,
        s"$src tvd")
      val bc = langs.map(l => BigDecimal(
        r(math.sqrt((cell.getOrElse(l, 0L) * nl(l)).toDouble), 8))).sum
        .toDouble / math.sqrt(ns.toDouble * ntot.toDouble)
      val (gbc, gh) = hel(src)
      assert(math.abs(gbc - r(bc, 6)) <= 1e-9, s"$src bc")
      assert(math.abs(gh - r(math.sqrt(math.max(0.0, 1.0 - bc)), 6)) <= 1e-9,
        s"$src hellinger")
      assert(gbc <= 1.0 + 1e-9 && gh >= 0.0)
    }
  }

  test("agg_canberra_daily replays from day-count grids at sf0.001") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val days = ev.map(_._2).distinct
    val cd = ev.groupBy(_._2).map { case (d, e) => d -> e.length.toLong }
    val ntot = ev.length.toLong
    val got = SparkEntry.queries("agg_canberra_daily")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for ((et, erows) <- ev.groupBy(_._1)) {
      val nt = erows.length.toLong
      val cell = erows.groupBy(_._2).map { case (d, e) => d -> e.length.toLong }
      val can = days.map { d =>
        val c = cell.getOrElse(d, 0L)
        val den = c * ntot + cd(d) * nt
        if (den > 0) BigDecimal(r(math.abs(c * ntot - cd(d) * nt).toDouble /
          den.toDouble, 8)) else BigDecimal(0)
      }.sum.toDouble
      val (gn, gc) = got(et)
      assert(gn == nt)
      assert(math.abs(gc - can) <= 1e-9, s"$et canberra: $gc vs $can")
      assert(gc >= 0.0 && gc <= days.length + 1e-9)
    }
  }
}
