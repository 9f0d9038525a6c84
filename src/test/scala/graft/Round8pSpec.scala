package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 sixteenth-wave anchors: ADX directional ledger, SMA cross
  * states, the VR(5) moment replay and the underwater profile, from
  * collected sf0.001 daily series.
  */
class Round8pSpec extends AnyFunSuite {
  import TestSpark._

  /** type -> day-sorted (day, xc) daily close-sum centi series. */
  private lazy val daily: Map[String, Seq[(Long, Long)]] =
    graft.sources.Tables.events(spark, sf0001)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 100)
        .cast("decimal(18,0)").cast("long").as("xc"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1).map { case (et, xs) =>
        et -> xs.sortBy(_._2).map(x => (x._2, x._3)).toSeq
      }

  /** type -> day-sorted (day, hi, lo) bars. */
  private lazy val bars: Map[String, Seq[(Long, Long, Long)]] =
    graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"),
        (col("value").cast("decimal(18,6)") * 100)
          .cast("decimal(18,0)").cast("long").as("vc"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1).map { case (et, xs) =>
        et -> xs.groupBy(_._3).toSeq.sortBy(_._1).map { case (day, es) =>
          (day, es.map(_._2).max, es.map(_._2).min)
        }
      }

  test("win_adx replays the directional ledger at sf0.001") {
    val got = SparkEntry.queries("win_adx")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    var checked = 0
    for ((et, bs) <- bars) {
      val dm = (1 until bs.length).map { i =>
        val up = bs(i)._2 - bs(i - 1)._2
        val dn = bs(i - 1)._3 - bs(i)._3
        (bs(i)._1,
          if (up > dn && up > 0) up else 0L,
          if (dn > up && dn > 0) dn else 0L)
      }
      for (i <- dm.indices if i >= 13) {
        val win = dm.slice(i - 13, i + 1)
        val p = win.map(_._2).sum; val m = win.map(_._3).sum
        val exp = if (p + m > 0)
          Some(r(100.0 * math.abs(p - m) / (p + m), 6)) else None
        val g = got((et, dm(i)._1))
        assert(g == exp || (g.isDefined && exp.isDefined &&
          math.abs(g.get - exp.get) <= 1e-9), s"$et d${dm(i)._1}")
        checked += 1
      }
    }
    assert(checked > 0)
  }

  test("win_sma_cross states follow the division-free compare at sf0.001") {
    val got = SparkEntry.queries("win_sma_cross")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), if (x.isNullAt(3)) None else Some(x.getString(3))))
      .toMap
    for ((et, xs) <- daily) {
      var prev: Option[Long] = None
      for (i <- xs.indices if i >= 19) {
        val s5 = xs.slice(i - 4, i + 1).map(_._2).sum
        val s20 = xs.slice(i - 19, i + 1).map(_._2).sum
        val st = if (4 * s5 > s20) 1L else if (4 * s5 < s20) -1L else 0L
        val cross = prev match {
          case Some(p) if p != st && st != 0 && p != 0 =>
            Some(if (st > p) "golden" else "death")
          case _ => None
        }
        assert(got((et, xs(i)._1)) == ((st, cross)), s"$et d${xs(i)._1}")
        prev = Some(st)
      }
    }
  }

  test("agg_variance_ratio replays from BigInt moments at sf0.001") {
    val got = SparkEntry.queries("agg_variance_ratio")(spark, sf0001)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    for ((et, xs) <- daily) {
      val v = xs.map(_._2)
      def varOf(ds: Seq[Long]): Double = {
        val n = ds.length
        val s1 = ds.map(BigInt(_)).sum
        val s2 = ds.map(x => BigInt(x) * BigInt(x)).sum
        (n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble) /
          (n.toDouble * (n - 1.0))
      }
      val d1 = (1 until v.length).map(i => v(i) - v(i - 1))
      val d5 = (5 until v.length).map(i => v(i) - v(i - 5))
      val vr = r(varOf(d5) / (5.0 * varOf(d1)), 6)
      val (gn, gvr) = got(et)
      assert(gn == d1.length)
      assert(math.abs(gvr - vr) <= 1e-9, s"$et vr $gvr vs $vr")
    }
  }

  test("win_drawdown_duration ledger: zero at peaks, monotone between at sf0.001") {
    val got = SparkEntry.queries("win_drawdown_duration")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (x.getDouble(2), x.getLong(3))).toMap
    for ((et, xs) <- daily) {
      var eq = 0L; var peak = Long.MinValue; var pday = 0L
      for ((day, xc) <- xs) {
        eq += xc
        if (eq >= peak) { peak = eq; pday = day }
        val (gdd, gud) = got((et, day))
        assert(gdd == (peak - eq) / 100.0, s"$et d$day dd")
        assert(gud == day - pday, s"$et d$day underwater")
        assert(gdd >= 0.0 && gud >= 0 && (gdd == 0.0) == (gud == 0L || eq == peak))
      }
    }
  }
}
