package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic anchors for the quality/monitoring batch — invariants that
  * must hold on any corpus, sf0.001.
  */
class QualitySignalSpec extends AnyFunSuite {
  import TestSpark._

  test("win_cusum_daily: cusum telescopes to zero so max is attained mid-series") {
    val rows = SparkEntry.queries("win_cusum_daily")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.events(spark, sf0001).count()
    assert(rows.map(_.getLong(2)).sum == total)
    for (r <- rows) {
      assert(r.getLong(1) >= 1)
      // the final cusum is n·total − n·total = 0, so a positive max
      // means the peak day exists and is strictly before the last day
      assert(r.getLong(3) >= 0)
      assert(r.getDate(4) != null)
    }
  }

  test("agg_benford_price: digits 1..9 only, shares sum to 1") {
    val rows = SparkEntry.queries("agg_benford_price")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    assert(rows.forall(r => r.getString(0) >= "1" && r.getString(0) <= "9"))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    val total = graft.sources.Tables.orders(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("agg_ab_conversion: counts conserve users, z consistent with rates") {
    val r = SparkEntry.queries("agg_ab_conversion")(spark, sf0001).collect().head
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val nUsers = graft.sources.Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(na + nb == nUsers)
    assert(ca <= na && cb <= nb)
    assert(math.abs(r.getDouble(4) - ca.toDouble / na) < 1e-15)
    assert(math.abs(r.getDouble(5) - cb.toDouble / nb) < 1e-15)
    // z sign matches the rate difference; NULL only at degenerate
    // pooled rates (0 or 1)
    if (r.isNullAt(6)) assert(ca + cb == 0 || ca + cb == na + nb)
    else {
      val z = r.getDouble(6)
      assert((r.getDouble(4) - r.getDouble(5)).signum == z.signum || z == 0.0)
    }
  }

  test("gen_sequence_step: 5 checkpoints per order, 14-day spacing") {
    val rows = SparkEntry.queries("gen_sequence_step")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (g <- rows.groupBy(_.getLong(0)).values) {
      assert(g.length == 5)
      assert(g.map(_.getLong(2)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    }
  }

  test("llm_hapax_share: rates bounded; hapax total conserved") {
    val rows = SparkEntry.queries("llm_hapax_share")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(3) <= r.getLong(1))
    }
  }
}
