package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Exact-decimal weighted-average buffer: sums are kept as scaled longs
  * (price·weight in 1e-4 units, weight in 1e-2 units), so partial
  * aggregation merges are integer-exact and order-free — the final
  * double is bit-identical to the oracle's decimal-sum division no
  * matter how Spark splits the partials.
  */
case class WAvgBuf(sumXw: Long, sumW: Long)

object WeightedAvgAgg extends Aggregator[(Double, Double), WAvgBuf, Double] {
  override def zero: WAvgBuf = WAvgBuf(0L, 0L)
  override def reduce(b: WAvgBuf, a: (Double, Double)): WAvgBuf =
    WAvgBuf(b.sumXw + Math.round(a._1 * a._2 * 10000.0), b.sumW + Math.round(a._2 * 100.0))
  override def merge(x: WAvgBuf, y: WAvgBuf): WAvgBuf =
    WAvgBuf(x.sumXw + y.sumXw, x.sumW + y.sumW)
  override def finish(r: WAvgBuf): Double =
    if (r.sumW == 0L) Double.NaN
    else (r.sumXw.toDouble / 10000.0) / (r.sumW.toDouble / 100.0)
  override def bufferEncoder: Encoder[WAvgBuf] = Encoders.product[WAvgBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** §2.L — user-defined scalar / aggregate function surface. */
object UdfQueries extends graft.QueryFamily {

  /** char-bigram Jaccard similarity of two strings (1.0 if both < 2 chars). */
  private def bigramJaccard(s1: String, s2: String): Double = {
    def bg(s: String): Set[String] =
      if (s == null || s.length < 2) Set.empty
      else s.sliding(2).toSet
    val a = bg(s1); val b = bg(s2)
    val inter = (a & b).size
    val uni = a.size + b.size - inter
    if (uni == 0) 1.0 else inter.toDouble / uni
  }

  val queries: Map[String, QFn] = Map(
    // scalar Scala UDF registered for SQL use, applied via selectExpr
    "udf_scalar_jaccard" -> ((s, dir) => {
      s.udf.register("jaccard_str", udf(bigramJaccard _))
      Tables.part(s, dir)
        .selectExpr("p_partkey", "p_name", "p_type",
          "jaccard_str(p_name, p_type) AS jacc")
        .orderBy("p_partkey")
    }),

    // typed Aggregator registered as a UDAF: discount-weighted mean price
    "udaf_weighted_avg" -> ((s, dir) => {
      val wavg = udaf(WeightedAvgAgg)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(wavg(col("l_extendedprice"), col("l_discount")).as("wavg_price"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    "udf_scalar_jaccard" ->
      """WITH bg AS (
        |  SELECT p_partkey, p_name, p_type,
        |    list_distinct(list_transform(generate_series(1, length(p_name) - 1),
        |      i -> substr(p_name, i, 2))) AS ba,
        |    list_distinct(list_transform(generate_series(1, length(p_type) - 1),
        |      i -> substr(p_type, i, 2))) AS bb
        |  FROM part)
        |SELECT p_partkey, p_name, p_type,
        |  CASE WHEN len(ba) + len(bb) - len(list_intersect(ba, bb)) = 0 THEN 1.0
        |       ELSE CAST(len(list_intersect(ba, bb)) AS DOUBLE)
        |            / (len(ba) + len(bb) - len(list_intersect(ba, bb))) END AS jacc
        |FROM bg ORDER BY p_partkey""".stripMargin,

    "udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
