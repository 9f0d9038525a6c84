package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 nineteenth-wave anchors: journey paths, gap spectrum,
  * entry/exit pairs and session sizes replayed from collected event
  * sequences at sf0.001.
  */
class Round8sSpec extends AnyFunSuite {
  import TestSpark._

  /** user -> (tus, event_id, type) sequences in total order. */
  private lazy val seqs: Map[Long, Seq[(Long, Long, String)]] =
    graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (u, xs) =>
        u -> xs.sortBy(x => (x._2, x._3)).map(x => (x._2, x._3, x._4)).toSeq
      }

  test("agg_user_paths matches a brute-force triple count at sf0.001") {
    val counts = collection.mutable.Map.empty[(String, String, String), Long]
      .withDefaultValue(0L)
    for ((_, s) <- seqs; i <- 2 until s.length)
      counts((s(i - 2)._3, s(i - 1)._3, s(i)._3)) += 1
    val expected = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    val got = SparkEntry.queries("agg_user_paths")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getLong(3)))
    assert(got.toSeq == expected)
  }

  test("agg_gap_dist buckets floor-log2 of gap seconds at sf0.001") {
    val buckets = collection.mutable.Map.empty[(String, Long), Long]
      .withDefaultValue(0L)
    for ((_, s) <- seqs; i <- 1 until s.length) {
      val gap = (s(i)._1 - s(i - 1)._1) / 1000000L
      val b = 63 - java.lang.Long.numberOfLeadingZeros(gap + 1)
      buckets((s(i)._3, b.toLong)) += 1
    }
    val totals = buckets.groupBy(_._1._1).map { case (t, m) =>
      t -> m.values.sum }
    val got = SparkEntry.queries("agg_gap_dist")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(got.keySet == buckets.keySet.map(identity))
    for ((k, n) <- buckets) {
      assert(got(k)._1 == n, s"$k")
      assert(math.abs(got(k)._2 -
        r(n.toDouble / totals(k._1), 6)) <= 1e-9)
    }
  }

  test("agg_entry_exit covers every user exactly once at sf0.001") {
    val pairs = seqs.values.map(s => (s.head._3, s.last._3))
    val exp = pairs.groupBy(identity).map { case (p, xs) =>
      p -> xs.size.toLong }
    val got = SparkEntry.queries("agg_entry_exit")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(got.keySet == exp.keySet.map(identity))
    for ((p, n) <- exp) assert(got(p)._1 == n, s"$p")
    assert(got.values.map(_._1).sum == seqs.size)
    assert(math.abs(got.values.map(_._2).sum - 1.0) <= 1e-4)
  }

  test("agg_session_dist replays the 30-min island split at sf0.001") {
    val sessions = seqs.values.flatMap { s =>
      val out = collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, String)]]
      var cur = collection.mutable.ArrayBuffer(s.head)
      for (i <- 1 until s.length) {
        if (s(i)._1 - s(i - 1)._1 > 1800L * 1000000L) {
          out += cur.toSeq; cur = collection.mutable.ArrayBuffer()
        }
        cur += s(i)
      }
      out += cur.toSeq
      out
    }.toSeq
    val byBucket = sessions.groupBy(s => math.min(s.length.toLong, 5L))
    val got = SparkEntry.queries("agg_session_dist")(spark, sf0001).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3)))
      .toMap
    assert(got.keySet == byBucket.keySet)
    for ((b, ss) <- byBucket) {
      val (gn, gshare, gdur) = got(b)
      assert(gn == ss.size, s"bucket $b")
      assert(math.abs(gshare -
        r(ss.size.toDouble / sessions.size, 6)) <= 1e-9)
      val durSum = ss.map(s => (s.last._1 - s.head._1) / 1000000L).sum
      assert(math.abs(gdur - r(durSum.toDouble / ss.size, 4)) <= 1e-9,
        s"bucket $b dur")
    }
    assert(got.values.map(_._1).sum == sessions.size)
  }
}
