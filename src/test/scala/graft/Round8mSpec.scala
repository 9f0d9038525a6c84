package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 thirteenth-wave anchors: ARI / SMOG / Guiraud-Herdan /
  * Honoré replayed driver-side from collected documents at sf0.001.
  */
class Round8mSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs: Seq[(String, String)] =
    graft.sources.Tables.documents(spark, sf0001)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private def toks(t: String): Seq[String] =
    t.split(" ", -1).filter(_.nonEmpty).toSeq

  private def vowelGroups(t: String): Int =
    "[aeiouyAEIOUY]+".r.findAllIn(t).length

  private def sentences(t: String): Long =
    math.max(1L, t.count(c => c == '.' || c == '!' || c == '?').toLong)

  test("llm_ari replays from char/word/sentence totals at sf0.001") {
    val got = SparkEntry.queries("llm_ari")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3), x.getLong(4),
        x.getDouble(5))).toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val kept = ds.map(_._2).filter(t => toks(t).nonEmpty)
      val c = kept.map(_.count(_.isLetterOrDigit).toLong).sum
      val w = kept.map(t => toks(t).length.toLong).sum
      val s = kept.map(sentences).sum
      val (gc, gw, gs, gari) = got(lang)
      assert(gc == c && gw == w && gs == s, s"$lang totals")
      assert(math.abs(gari -
        r(4.71 * c / w + 0.5 * w / s - 21.43, 4)) <= 1e-9, s"$lang ari")
    }
  }

  test("llm_smog replays from polysyllable counts at sf0.001") {
    val got = SparkEntry.queries("llm_smog")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3), x.getDouble(4)))
      .toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val kept = ds.map(_._2).filter(t => toks(t).nonEmpty)
      val poly = kept.map(t => toks(t).count(vowelGroups(_) >= 3).toLong).sum
      val s = kept.map(sentences).sum
      val (gp, gs, gsmog) = got(lang)
      assert(gp == poly && gs == s, s"$lang counts")
      assert(math.abs(gsmog -
        r(1.0430 * math.sqrt(30.0 * poly / s) + 3.1291, 4)) <= 1e-9,
        s"$lang smog")
    }
  }

  test("llm_lexical_richness and llm_honore_r replay from the frequency " +
      "spectrum at sf0.001") {
    val rich = SparkEntry.queries("llm_lexical_richness")(spark, sf0001)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    val hon = SparkEntry.queries("llm_honore_r")(spark, sf0001)
      .collect().map(x => x.getString(0) -> (x.getLong(3),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val freq = ds.flatMap(d => toks(d._2))
        .groupBy(identity).map(_._2.length.toLong)
      val n = freq.sum; val v = freq.size.toLong
      val v1 = freq.count(_ == 1L).toLong
      val (gn, gv, gr, gc) = rich(lang)
      assert(gn == n && gv == v, s"$lang N/V")
      assert(math.abs(gr - r(v / math.sqrt(n.toDouble), 6)) <= 1e-9)
      assert(math.abs(gc - r(math.log(v.toDouble) / math.log(n.toDouble), 6))
        <= 1e-9)
      val (gv1, ghr) = hon(lang)
      assert(gv1 == v1)
      if (v1 < v)
        assert(math.abs(ghr.get -
          r(100.0 * math.log(n.toDouble) * v / (v - v1), 4)) <= 1e-9)
      else assert(ghr.isEmpty)
    }
  }
}
