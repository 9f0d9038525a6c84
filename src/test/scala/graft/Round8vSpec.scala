package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite


/** Round-8 twenty-second-wave anchors: the nested-JSON roundtrip
  * against the direct aggregate, a driver Luhn replay, contribution
  * conservation, and the XOR partition identities, at sf0.001.
  */
class Round8vSpec extends AnyFunSuite {
  import TestSpark._

  test("source_json_nested roundtrip equals the direct aggregate at sf0.001") {
    val direct = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("p"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    val got = SparkEntry.queries("source_json_nested")(spark, sf0001)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(got == direct, "JSON roundtrip diverged from the direct aggregate")
  }

  test("fn_luhn matches a driver digit-ledger replay at sf0.001") {
    def luhn(s: String): Boolean = {
      val ds = s.reverse.map(_ - '0')
      val sum = ds.zipWithIndex.map { case (x, i) =>
        if (i % 2 == 1) { val y = 2 * x; if (y > 9) y - 9 else y } else x
      }.sum
      sum % 10 == 0
    }
    val o = graft.sources.Tables.orders(spark, sf0001)
      .select("o_orderpriority", "o_orderkey").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    val got = SparkEntry.queries("fn_luhn")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    for ((pri, rows) <- o.groupBy(_._1)) {
      val valid = rows.count(x => luhn(x._2.toString)).toLong
      assert(got(pri) == ((rows.length.toLong, valid)), s"$pri")
    }
    // the canonical Luhn test vector sanity-checks the replay itself
    assert(luhn("79927398713") && !luhn("79927398714"))
  }

  test("agg_mom_contribution contributions sum to 1 per non-flat month " +
      "and deltas conserve at sf0.001") {
    val got = SparkEntry.queries("agg_mom_contribution")(spark, sf0001)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
    for ((mi, rows) <- got.groupBy(_._1)) {
      val contribs = rows.flatMap(_._4)
      if (contribs.nonEmpty) {
        assert(math.abs(contribs.sum - 1.0) <= 1e-3,
          s"month $mi contributions sum ${contribs.sum}")
      } else {
        // flat total: every delta must cancel
        assert(math.abs(rows.map(_._3).sum) <= 1e-6, s"month $mi flat")
      }
    }
  }

  test("set_symmetric_diff partitions the half-active customers at sf0.001") {
    def half(from: String, until: String) =
      graft.sources.Tables.orders(spark, sf0001)
        .where(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val h1 = half("1997-01-01", "1997-07-01")
    val h2 = half("1997-07-01", "1998-01-01")
    val got = SparkEntry.queries("set_symmetric_diff")(spark, sf0001)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    val g1 = got.filter(_._2 == "h1_only").map(_._1).toSet
    val g2 = got.filter(_._2 == "h2_only").map(_._1).toSet
    assert(g1 == (h1 -- h2) && g2 == (h2 -- h1))
    assert((g1 & g2).isEmpty)
    assert(got.length == g1.size + g2.size)
  }
}
