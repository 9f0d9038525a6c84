package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 twenty-fifth-wave anchors: BigInt moment replays, fence
  * counts, Dixon picks and the median/MAD pair, at sf0.001.
  */
class Round8ySpec extends AnyFunSuite {
  import TestSpark._

  /** type -> (event_id, xc) rows. */
  private lazy val vals: Map[String, Seq[(Long, Long)]] =
    graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,6)") * 100)
          .cast("decimal(18,0)").cast("long").as("xc"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1).map { case (et, xs) =>
        et -> xs.map(x => (x._2, x._3)).toSeq
      }

  test("agg_skew_kurtosis replays BigInt power sums at sf0.001") {
    val got = SparkEntry.queries("agg_skew_kurtosis")(spark, sf0001)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    for ((et, xs) <- vals) {
      val n = xs.length.toDouble
      val s = (1 to 4).map(k =>
        xs.map(x => BigInt(x._2).pow(k)).sum.toDouble)
      val m2 = (n * s(1) - s(0) * s(0)) / (n * n)
      val m3 = (n * n * s(2) - 3.0 * n * s(0) * s(1) +
        2.0 * s(0) * s(0) * s(0)) / (n * n * n)
      val m4 = (n * n * n * s(3) - 4.0 * n * n * s(0) * s(2) +
        6.0 * n * s(0) * s(0) * s(1) - 3.0 * math.pow(s(0), 4)) /
        (n * n * n * n)
      val (gn, gskew, gkurt) = got(et)
      assert(gn == xs.length)
      assert(math.abs(gskew - r(m3 / (m2 * math.sqrt(m2)), 4)) <= 1e-9)
      assert(math.abs(gkurt - r(m4 / (m2 * m2) - 3.0, 4)) <= 1e-9)
      assert(gkurt >= -2.0 - 1e-9) // hard lower bound of excess kurtosis
    }
  }

  test("agg_iqr_fences counts cross-multiplied fences at sf0.001") {
    val got = SparkEntry.queries("agg_iqr_fences")(spark, sf0001)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(4)))
      .toMap
    for ((et, xs) <- vals) {
      val sorted = xs.sortBy(x => (x._2, x._1)).map(_._2)
      val n = sorted.length
      val q1 = sorted((n + 3) / 4 - 1); val q3 = sorted((3 * n + 3) / 4 - 1)
      val iqr = q3 - q1
      val out = sorted.count(x =>
        2 * x < 2 * q1 - 3 * iqr || 2 * x > 2 * q3 + 3 * iqr).toLong
      assert(got(et) == ((n.toLong, out)), s"$et")
    }
  }

  test("agg_dixon_q replays the extreme picks at sf0.001") {
    val got = SparkEntry.queries("agg_dixon_q")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    for ((et, xs) <- vals) {
      val s = xs.sortBy(x => (x._2, x._1)).map(_._2)
      val ql = r((s(1) - s(0)).toDouble / (s.last - s(0)), 6)
      val qh = r((s.last - s(s.length - 2)).toDouble / (s.last - s(0)), 6)
      val (gl, gh) = got(et)
      assert(math.abs(gl - ql) <= 1e-9 && math.abs(gh - qh) <= 1e-9, s"$et")
      assert(gl >= 0 && gl <= 1 && gh >= 0 && gh <= 1)
    }
  }

  test("agg_median_mad picks both discrete ranks at sf0.001") {
    val got = SparkEntry.queries("agg_median_mad")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    for ((et, xs) <- vals) {
      val n = xs.length
      val med = xs.sortBy(x => (x._2, x._1)).map(_._2)((n + 1) / 2 - 1)
      val devs = xs.map(x => (x._1, math.abs(x._2 - med)))
        .sortBy(x => (x._2, x._1)).map(_._2)
      val mad = devs((n + 1) / 2 - 1)
      val (gm, gmad) = got(et)
      assert(gm == med / 100.0 && gmad == mad / 100.0, s"$et")
      assert(gmad >= 0.0)
    }
  }
}
