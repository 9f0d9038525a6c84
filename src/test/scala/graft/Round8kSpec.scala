package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 eleventh-wave anchors: Donchian extremes, the VWAP ratio,
  * the OBV signed ledger and the MFI split replayed driver-side from
  * the collected sf0.001 daily bars.
  */
class Round8kSpec extends AnyFunSuite {
  import TestSpark._

  /** (type) -> day-sorted (day, hi, lo, close, vol) centi bars. */
  private lazy val bars: Map[String, Seq[(Long, Long, Long, Long, Long)]] = {
    val rows = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        (col("value").cast("decimal(18,6)") * 100)
          .cast("decimal(18,0)").cast("long").as("vc"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows.groupBy(r => (r._1, r._5)).toSeq.map { case ((et, day), es) =>
      val close = es.maxBy(e => (e._3, e._2))._4
      (et, day, es.map(_._4).max, es.map(_._4).min, close, es.length.toLong)
    }.groupBy(_._1).map { case (et, bs) =>
      et -> bs.sortBy(_._2).map(b => (b._2, b._3, b._4, b._5, b._6))
    }
  }

  test("win_donchian matches rolling extremes at sf0.001") {
    val got = SparkEntry.queries("win_donchian")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    for ((et, bs) <- bars; (b, i) <- bs.zipWithIndex) {
      val win = bs.slice(math.max(0, i - 19), i + 1)
      val u = win.map(_._2).max; val l = win.map(_._3).min
      val (gu, gl, gm) = got((et, b._1))
      assert(gu == u / 100.0 && gl == l / 100.0, s"$et d${b._1}")
      assert(gm == (u + l) / 200.0, s"$et d${b._1} mid")
      assert(gl <= gm && gm <= gu)
    }
  }

  test("win_obv matches the signed-volume ledger at sf0.001") {
    val got = SparkEntry.queries("win_obv")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(3)).toMap
    for ((et, bs) <- bars) {
      var obv = 0L
      for (i <- bs.indices) {
        if (i > 0) obv += math.signum(bs(i)._4 - bs(i - 1)._4) * bs(i)._5
        assert(got((et, bs(i)._1)) == obv, s"$et d${bs(i)._1}")
      }
    }
  }

  test("win_mfi matches the money-flow split at sf0.001") {
    val got = SparkEntry.queries("win_mfi")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
    var checked = 0
    for ((et, bs) <- bars) {
      val mf = bs.zipWithIndex.map { case ((day, hi, lo, cl, vol), i) =>
        val tp3 = hi + lo + cl
        val dtp = if (i == 0) None
          else Some(tp3 - (bs(i - 1)._2 + bs(i - 1)._3 + bs(i - 1)._4))
        (day, BigInt(tp3) * BigInt(vol), dtp)
      }
      for (i <- mf.indices if i >= 13) {
        val win = mf.slice(i - 13, i + 1)
        val pos = win.collect { case (_, m, Some(d)) if d > 0 => m }.sum
        val neg = win.collect { case (_, m, Some(d)) if d < 0 => m }.sum
        if ((pos + neg).signum > 0) {
          val exp = r(100.0 * pos.toDouble / (pos.toDouble + neg.toDouble), 4)
          assert(math.abs(got((et, mf(i)._1)) - exp) <= 1e-9,
            s"$et d${mf(i)._1}")
          checked += 1
        }
      }
    }
    assert(checked > 0, "no full MFI windows at sf0.001")
  }

  test("win_vwap equals cumulative price over cumulative quantity at sf0.001") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), to_date(col("l_shipdate")).as("sday"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"),
        col("l_quantity").cast("long").as("q"))
      .collect()
      .map(x => (x.getString(0), x.getDate(1).toString, BigDecimal(x.getDecimal(2)),
        x.getLong(3)))
    val got = SparkEntry.queries("win_vwap")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getDate(1).toString) -> x.getDouble(2)).toMap
    for ((flag, rows) <- li.groupBy(_._1)) {
      val daily = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, xs) =>
        (d, xs.map(_._3).sum, xs.map(_._4).sum)
      }
      var cp = BigDecimal(0); var cq = 0L
      for ((d, p, q) <- daily) {
        cp += p; cq += q
        assert(math.abs(got((flag, d)) - r(cp.toDouble / cq, 6)) <= 1e-9,
          s"$flag $d")
      }
    }
  }
}
