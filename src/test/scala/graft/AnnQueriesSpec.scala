package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector-search family anchors: the quantized rankings are replayed
  * in plain Scala (same left-to-right double folds as FloatVecDot) over
  * the collected 500-vector corpus at sf0.001.
  */
class AnnQueriesSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val vecs: Map[Long, Array[Float]] =
    graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  /** The deterministic 256-query sample (hash60 order). */
  private lazy val sample: Set[Long] = {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    vecs.keys.toSeq.sortBy(id => (h60(id.toString), id)).take(256).toSet
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private lazy val dv: Map[Long, Array[Double]] =
    vecs.map { case (k, v) => k -> v.map(_.toDouble) }
  private lazy val nrm: Map[Long, Double] =
    dv.map { case (k, v) => k -> math.sqrt(dot(v, v)) }

  private def top10(a: Long, score: Long => Double, asc: Boolean = false): Set[Long] =
    vecs.keys.filter(_ != a).toSeq
      .sortBy(b => (if (asc) score(b) else -score(b), b)).take(10).toSet

  private def exact10(a: Long): Set[Long] =
    top10(a, b => dot(dv(a), dv(b)) / (nrm(a) * nrm(b)))

  test("llm_ann_dim_truncate replays the 32-dim ranking at sf0.001") {
    val d32 = dv.map { case (k, v) => k -> v.take(32) }
    val n32 = d32.map { case (k, v) => k -> math.sqrt(dot(v, v)) }
    var hits = 0L
    for (a <- sample) {
      val tr = top10(a, b => dot(d32(a), d32(b)) / (n32(a) * n32(b)))
      hits += (exact10(a) & tr).size
    }
    val row = SparkEntry.queries("llm_ann_dim_truncate")(spark, sf0001)
      .collect().head
    assert(row.getLong(0) == 256L && row.getLong(1) == hits)
    val exp = (2 * 10000 * hits + 2560) / (2 * 2560)
    assert(row.getDouble(2) == exp.toDouble / 10000.0)
  }

  test("llm_emb_binary_recall replays the Hamming ranking at sf0.001") {
    val bits = vecs.map { case (k, v) =>
      k -> v.map(x => if (x > 0) 1 else 0)
    }
    def hd(a: Long, b: Long): Int =
      bits(a).zip(bits(b)).count { case (x, y) => x != y }
    var hits = 0L
    for (a <- sample) {
      val bn = top10(a, b => hd(a, b).toDouble, asc = true)
      hits += (exact10(a) & bn).size
    }
    val row = SparkEntry.queries("llm_emb_binary_recall")(spark, sf0001)
      .collect().head
    assert(row.getLong(0) == 256L && row.getLong(1) == hits)
  }

  test("llm_emb_int8_recall replays the code-cosine ranking at sf0.001") {
    val q = dv.map { case (k, v) =>
      val mx = v.map(math.abs).max
      k -> v.map(x => math.floor(x * 127.0 / mx))
    }
    val qn = q.map { case (k, v) => k -> math.sqrt(dot(v, v)) }
    var hits = 0L
    for (a <- sample) {
      val t = top10(a, b => dot(q(a), q(b)) / (qn(a) * qn(b)))
      hits += (exact10(a) & t).size
    }
    val row = SparkEntry.queries("llm_emb_int8_recall")(spark, sf0001)
      .collect().head
    assert(row.getLong(0) == 256L && row.getLong(1) == hits)
    // 8-bit codes should preserve most of the top-10 (sanity floor)
    assert(row.getDouble(2) >= 0.5)
  }

  test("llm_emb_sign_balance counts positive coordinates at sf0.001") {
    val got = SparkEntry.queries("llm_emb_sign_balance")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 64)
    for (i <- 0 until 64) {
      val np = vecs.values.count(v => v(i) > 0).toLong
      assert(got(i.toLong) == ((vecs.size.toLong, np)), s"dim $i")
    }
  }
}
