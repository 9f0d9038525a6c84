package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic anchors for the cohort/signal batch — invariants that must
  * hold on any corpus, sf0.001.
  */
class CohortSignalSpec extends AnyFunSuite {
  import TestSpark._

  test("win_yoy_revenue: delta/ratio null iff no previous calendar year") {
    val rows = SparkEntry.queries("win_yoy_revenue")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_.getLong(0))
    for ((_, g) <- byCust) {
      val years = g.map(_.getLong(1)).toSet
      for (r <- g) {
        val hasPrev = years.contains(r.getLong(1) - 1)
        assert(r.isNullAt(3) != hasPrev,
          s"cust ${r.getLong(0)} yr ${r.getLong(1)}: delta null must " +
            s"match missing prev year")
        if (!r.isNullAt(3))
          assert(math.abs(r.getDouble(4) - 1.0
            - r.getDouble(3) / (r.getDouble(2) - r.getDouble(3))) < 1e-9)
      }
    }
  }

  test("agg_dau_wau: WAU bounds DAU and trailing union") {
    val rows = SparkEntry.queries("agg_dau_wau")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // wau >= dau always; wau <= sum of the 7 trailing daus
    val dauByDay = rows.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    for (r <- rows) {
      val d = r.getDate(0).toLocalDate
      assert(r.getLong(2) >= r.getLong(1))
      val bound = (0 to 6)
        .flatMap(k => dauByDay.get(d.minusDays(k))).sum
      assert(r.getLong(2) <= bound)
    }
  }

  test("llm_cluster_purity: purity in (0,1], majority consistent, counts conserved") {
    val rows = SparkEntry.queries("llm_cluster_purity")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nVec = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == nVec)
    for (r <- rows) {
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 9)
    }
  }

  test("fn_array_setops: inter+diff partition the head set") {
    val rows = SparkEntry.queries("fn_array_setops")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      def set(s: String): Set[String] =
        if (s.isEmpty) Set.empty else s.split(",", -1).toSet
      val (inter, uni, diff) = (set(r.getString(1)), set(r.getString(2)), set(r.getString(3)))
      assert((inter & diff).isEmpty)
      assert((inter | diff).subsetOf(uni))
      assert(inter.subsetOf(uni))
      assert(r.getLong(4) >= 0)
    }
  }

  test("agg_interpurchase_gap: median within range, gap count conserved") {
    val rows = SparkEntry.queries("agg_interpurchase_gap")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val o = graft.sources.Tables.orders(spark, sf0001)
    val totalGaps = o.count() - o.select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum == totalGaps)
    for (r <- rows) {
      assert(r.getLong(3) >= 0, "gaps are non-negative days")
      assert(r.getDouble(2) >= 0.0)
    }
  }
}
