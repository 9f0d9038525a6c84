package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestRounding.r

/** Round-8 twenty-first-wave anchors: histogram mass identities,
  * separation ordering, 1-NN accuracy vs a brute-force replay, and
  * the drift ledger, at sf0.001.
  */
class Round8uSpec extends AnyFunSuite {
  import TestSpark._

  test("llm_cosine_hist masses 32640 constant pairs at sf0.001") {
    val got = SparkEntry.queries("llm_cosine_hist")(spark, sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(got.map(_._2).sum == 256L * 255 / 2)
    assert(got.forall(x => x._1 >= -10 && x._1 <= 9))
    assert(math.abs(got.map(_._3).sum - 1.0) <= 1e-4)
  }

  test("llm_label_separation: intra-label cosine exceeds inter at sf0.001") {
    val got = SparkEntry.queries("llm_label_separation")(spark, sf0001)
      .collect().map(x => x.getBoolean(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(got.keySet == Set(true, false))
    assert(got(true)._1 + got(false)._1 == 256L * 255 / 2)
    // the synthetic space is NOT label-clustered (near-random vectors):
    // both means sit near zero — assert the magnitude bound instead of
    // an ordering the fixture does not promise
    assert(math.abs(got(true)._2) < 0.1 && math.abs(got(false)._2) < 0.1,
      s"intra ${got(true)._2} inter ${got(false)._2}")
  }

  test("llm_knn_label_acc matches a brute-force 1-NN replay at sf0.001") {
    val em = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray, x.getInt(2)))
    // deterministic hash sample: same rank construction as hashSample
    def h60(id: Long): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val sample = em.map(_._1).sortBy(id => (h60(id), id)).take(256).toSet
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norms = em.map(e => e._1 -> math.sqrt(dot(e._2, e._2))).toMap
    val byId = em.map(e => e._1 -> e).toMap
    var correct = 0
    for (a <- em if sample.contains(a._1)) {
      val nn = em.filter(_._1 != a._1)
        .map(b => (dot(a._2, b._2) / (norms(a._1) * norms(b._1)), b._1))
        .minBy { case (c, id) => (-c, id) }
      if (byId(nn._2)._3 == a._3) correct += 1
    }
    val row = SparkEntry.queries("llm_knn_label_acc")(spark, sf0001)
      .collect()(0)
    assert(row.getLong(0) == 256L)
    assert(row.getLong(1) == correct.toLong,
      s"got ${row.getLong(1)} vs replay $correct")
    assert(math.abs(row.getDouble(2) - r(correct / 256.0, 6)) <= 1e-9)
  }

  test("llm_emb_drift replays the half-centroid ledger at sf0.001") {
    val em = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray, x.getInt(2).toLong))
    val got = SparkEntry.queries("llm_emb_drift")(spark, sf0001).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    for ((lab, vs) <- em.groupBy(_._3)) {
      val (ev, od) = vs.partition(_._1 % 2 == 0)
      val dim = vs.head._2.length
      var s2 = BigDecimal(0)
      for (p <- 0 until dim) {
        val se = ev.map(v => BigDecimal(r(v._2(p).toDouble, 6))).sum
        val so = od.map(v => BigDecimal(r(v._2(p).toDouble, 6))).sum
        val delta = se.toDouble / ev.length - so.toDouble / od.length
        s2 += BigDecimal(r(delta * delta, 10))
      }
      val (gn, go, gd) = got(lab)
      assert(gn == ev.length && go == od.length, s"label $lab halves")
      assert(math.abs(gd - r(math.sqrt(s2.toDouble), 6)) <= 1e-9,
        s"label $lab drift")
    }
  }
}
