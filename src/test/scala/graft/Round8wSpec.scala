package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 twenty-third-wave anchors: sign/McNemar count replays,
  * tracking-signal bounds and the rolling z-score ledger, at sf0.001.
  */
class Round8wSpec extends AnyFunSuite {
  import TestSpark._

  /** type -> day-sorted (day, xc) daily centi series. */
  private lazy val daily: Map[String, Seq[(Long, Long)]] =
    graft.sources.Tables.events(spark, sf0001)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 100)
        .cast("decimal(18,0)").cast("long").as("xc"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1).map { case (et, xs) =>
        et -> xs.sortBy(_._2).map(x => (x._2, x._3)).toSeq
      }

  test("agg_sign_test counts agree with agg_wilcoxon_signedrank pairing " +
      "at sf0.001") {
    val got = SparkEntry.queries("agg_sign_test")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    for ((et, xs) <- daily) {
      val byDay = xs.toMap
      val diffs = (1L to 15L).flatMap(d =>
        for (a <- byDay.get(d); b <- byDay.get(d + 15); if a != b)
          yield a - b)
      if (diffs.nonEmpty) {
        val np = diffs.count(_ > 0).toLong
        val nn = diffs.count(_ < 0).toLong
        val (gp, gn, gz) = got(et)
        assert(gp == np && gn == nn, s"$et counts")
        assert(math.abs(gz -
          r((np - nn).toDouble / math.sqrt((np + nn).toDouble), 6)) <= 1e-9)
      }
    }
  }

  test("agg_mcnemar replays the discordant-pair counts at sf0.001") {
    val u = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val flags = u.groupBy(_._1).toSeq.map { case (_, es) =>
      (es.exists(e => e._2 == "purchase" && e._3 <= 15),
        es.exists(e => e._2 == "purchase" && e._3 > 15))
    }
    val b = flags.count(f => f._1 && !f._2).toLong
    val c = flags.count(f => !f._1 && f._2).toLong
    val row = SparkEntry.queries("agg_mcnemar")(spark, sf0001).collect()(0)
    assert(row.getLong(0) == flags.size && row.getLong(1) == b &&
      row.getLong(2) == c)
    if (b + c > 0)
      assert(math.abs(row.getDouble(3) -
        r((b - c).toDouble * (b - c) / (b + c), 6)) <= 1e-9)
    else assert(row.isNullAt(3))
  }

  test("win_tracking_signal stays in [-1, 1] and replays at sf0.001") {
    val got = SparkEntry.queries("win_tracking_signal")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    for ((et, xs) <- daily) {
      var ce = 0L; var cae = 0L
      for (i <- 1 until xs.length) {
        val e = xs(i)._2 - xs(i - 1)._2
        ce += e; cae += math.abs(e)
        val exp = if (cae > 0) Some(r(ce.toDouble / cae, 6)) else None
        val g = got((et, xs(i)._1))
        assert(g == exp || (g.isDefined && exp.isDefined &&
          math.abs(g.get - exp.get) <= 1e-9), s"$et d${xs(i)._1}")
        for (v <- g) assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)
      }
    }
  }

  test("win_rolling_zscore replays window moments at sf0.001") {
    val got = SparkEntry.queries("win_rolling_zscore")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2))
      .toMap
    var checked = 0
    for ((et, xs) <- daily; i <- xs.indices if i >= 13) {
      val win = xs.slice(i - 13, i + 1).map(_._2)
      val n = 14L
      val s1 = win.map(BigInt(_)).sum
      val s2 = win.map(x => BigInt(x) * BigInt(x)).sum
      val varn = n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble
      if (varn > 0) {
        val z = r((n.toDouble * xs(i)._2 - s1.toDouble) *
          math.sqrt((n - 1.0) / n) / math.sqrt(varn), 4)
        assert(math.abs(got((et, xs(i)._1)) - z) <= 1e-9, s"$et d${xs(i)._1}")
        checked += 1
      }
    }
    assert(checked > 0)
  }
}
