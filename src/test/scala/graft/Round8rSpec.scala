package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 eighteenth-wave anchors: MSTTR segments, the Dale-Chall
  * easy-list grade and the token spectra replayed from collected
  * documents at sf0.001.
  */
class Round8rSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs: Seq[(String, Long, String)] =
    graft.sources.Tables.documents(spark, sf0001)
      .select("lang", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

  private def toks(t: String): Seq[String] =
    t.split(" ", -1).filter(_.nonEmpty).toSeq

  test("llm_msttr replays 50-token segments at sf0.001") {
    val got = SparkEntry.queries("llm_msttr")(spark, sf0001).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val segs = ds.flatMap { case (_, _, text) =>
        toks(text).grouped(50).filter(_.length == 50).map(_.distinct.length)
      }
      val mean = segs.map(v => BigDecimal(r(v / 50.0, 8))).sum.toDouble /
        segs.length
      val (gn, gm) = got(lang)
      assert(gn == segs.length, s"$lang segments")
      assert(math.abs(gm - r(mean, 6)) <= 1e-9, s"$lang msttr")
      assert(gm > 0.0 && gm <= 1.0)
    }
  }

  test("llm_dale_chall replays against the corpus top-100 easy list at sf0.001") {
    val freq = docs.flatMap(d => toks(d._3))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val easy = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(100).map(_._1).toSet
    val got = SparkEntry.queries("llm_dale_chall")(spark, sf0001).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val all = ds.flatMap(d => toks(d._3))
      val w = all.length.toLong
      val diff = all.count(t => !easy.contains(t)).toLong
      val s = ds.map(_._3).filter(t => toks(t).nonEmpty)
        .map(t => math.max(1L,
          t.count(c => c == '.' || c == '!' || c == '?').toLong)).sum
      val grade = r(0.1579 * (100.0 * diff / w) + 0.0496 * w.toDouble / s +
        (if (diff * 20 > w) 3.6365 else 0.0), 4)
      val (gw, gd, gs, gg) = got(lang)
      assert(gw == w && gd == diff && gs == s, s"$lang counts")
      assert(math.abs(gg - grade) <= 1e-9, s"$lang grade")
    }
  }

  test("token spectra are complete distributions at sf0.001") {
    val wl = SparkEntry.queries("llm_word_len_dist")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    val sy = SparkEntry.queries("llm_syllable_dist")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    val byLang = docs.groupBy(_._1).map { case (l, ds) =>
      l -> ds.flatMap(d => toks(d._3)) }
    for ((lang, ts) <- byLang) {
      // histogram masses sum to the token count; shares to ~1
      assert(wl.filter(_._1 == lang).map(_._3).sum == ts.length)
      assert(sy.filter(_._1 == lang).map(_._3).sum == ts.length)
      assert(math.abs(wl.filter(_._1 == lang).map(_._4).sum - 1.0) <= 1e-4)
      assert(math.abs(sy.filter(_._1 == lang).map(_._4).sum - 1.0) <= 1e-4)
      // spot: length-1 token count matches
      val n1 = ts.count(_.length == 1).toLong
      assert(wl.find(x => x._1 == lang && x._2 == 1L).map(_._3)
        .getOrElse(0L) == n1)
      // syllable buckets clamp at 5
      assert(sy.filter(_._1 == lang).forall(x => x._2 >= 0 && x._2 <= 5))
    }
  }
}
