package graft.operators

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Exact integer geometric-mean buffer: each ln(x) is quantized to a
  * half-up 1e-8 long on entry, so partial merges are integer-exact and
  * order-free (the WAvgBuf discipline applied to the quantized-ln
  * idiom). */
case class GeoBuf(sumLn8: Long, n: Long)

object GeoMeanAgg extends Aggregator[Double, GeoBuf, Double] {
  override def zero: GeoBuf = GeoBuf(0L, 0L)
  override def reduce(b: GeoBuf, x: Double): GeoBuf =
    GeoBuf(b.sumLn8 + Math.round(Math.log(x) * 1e8), b.n + 1)
  override def merge(a: GeoBuf, b: GeoBuf): GeoBuf =
    GeoBuf(a.sumLn8 + b.sumLn8, a.n + b.n)
  override def finish(r: GeoBuf): Double =
    if (r.n == 0L) Double.NaN
    // one division by the exact double product 1e8·n — the oracle
    // mirrors this op order exactly (sum·1e8 as integer, then /(1e8·n))
    else r.sumLn8.toDouble / (1e8 * r.n.toDouble)
  override def bufferEncoder: Encoder[GeoBuf] = Encoders.product[GeoBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Round-9 fifteenth wave: downside-risk return ratios (Sortino,
  * Omega), the exact-Jaccard spectrum of the shipped near-dup pairs,
  * and a custom geometric-mean UDAF (§2.L surface growth).
  *
  * Determinism: returns ride the quantized-8dp-ln ledgers (exact
  * decimal sums); the Jaccard histogram bins compare the SAME double
  * both engines produce from the same exact-integer division; the
  * UDAF buffer is a quantized-ln long, so partial merges are integer
  * and order-free, and the emitted value is the exact mean-log.
  */
object Round9oQueries extends graft.QueryFamily {

  /** Per-type quantized daily log-return ledger. */
  private def lr8(s: SparkSession, dir: String) = {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyBars(s, dir)
      .withColumn("pc", lag("cc", 1).over(w))
      .where(col("pc").isNotNull)
      .withColumn("lr8",
        round(log(d(col("cc")) / d(col("pc"))), 8).cast(DecimalType(18, 8)))
  }

  private val lr8Sql = s"""$dailyBarsSql,
    |r AS (SELECT event_type,
    |    CAST(round(ln(CAST(cc AS DOUBLE) / CAST(pc AS DOUBLE)), 8)
    |      AS DECIMAL(18,8)) AS lr8
    |  FROM (SELECT event_type, cc, lag(cc, 1) OVER (
    |      PARTITION BY event_type ORDER BY day) AS pc
    |    FROM bars) x
    |  WHERE pc IS NOT NULL)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Sortino ratio ------------------------------------------------------------
    // Mean return over DOWNSIDE deviation (the σ of negative returns
    // only, full-n denominator) per event type — the risk ratio that
    // does not punish upside. Exact decimal ledgers, one √, 4dp.
    "agg_sortino" -> ((s, dir) =>
      lr8(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("lr8").as("s1"),
          sum(when(col("lr8") < 0, col("lr8") * col("lr8"))
            .otherwise(lit(0).cast(DecimalType(37, 16)))).as("sd2"))
        .select(col("event_type"), col("n"),
          round((d(col("s1")) / d(col("n")))
            / sqrt(d(col("sd2")) / d(col("n"))), 4).as("sortino"))
        .orderBy("event_type")),

    // ---- Omega ratio ---------------------------------------------------------------
    // Σ gains / Σ |losses| around the zero threshold per event type —
    // the whole-distribution sibling of Sortino. One division of two
    // exact decimal sums.
    "agg_omega_ratio" -> ((s, dir) =>
      lr8(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lr8") > 0, col("lr8"))
            .otherwise(lit(0).cast(DecimalType(18, 8)))).as("g"),
          sum(when(col("lr8") < 0, -col("lr8"))
            .otherwise(lit(0).cast(DecimalType(18, 8)))).as("l"))
        .select(col("event_type"), col("n"),
          round(d(col("g")) / d(col("l")), 6).as("omega"))
        .orderBy("event_type")),

    // ---- near-dup Jaccard spectrum ----------------------------------------------------
    // How duplicated are the duplicates? The 8-bin [0.6, 1.0] spectrum
    // of the shipped exact near-dup pairs — bins compare the identical
    // exact-ratio double both engines produce, so banding is
    // deterministic. Composes the memoized pair artifact.
    "llm_jaccard_hist" -> ((s, dir) => {
      val pairs = graft.tools.PairArtifacts.of(s, dir, "near")(
        LlmQueries.queries("llm_dedup_near")(s, dir))
      val bin = when(col("jaccard") >= 0.95, "0.95+")
        .when(col("jaccard") >= 0.90, "0.90")
        .when(col("jaccard") >= 0.85, "0.85")
        .when(col("jaccard") >= 0.80, "0.80")
        .when(col("jaccard") >= 0.75, "0.75")
        .when(col("jaccard") >= 0.70, "0.70")
        .when(col("jaccard") >= 0.65, "0.65")
        .otherwise("0.60")
      pairs.select(bin.as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")
    }),

    // ---- geometric-mean UDAF -----------------------------------------------------------
    // Custom typed Aggregator: per-brand geometric mean of part retail
    // prices, carried as a quantized-ln long buffer (integer-exact
    // partial merges). Emits the exact mean-log and its exp.
    "udaf_geomean" -> ((s, dir) => {
      val gm = udaf(GeoMeanAgg)
      Tables.part(s, dir)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          gm(col("p_retailprice")).as("mean_ln"))
        .select(col("p_brand").as("brand"), col("n_parts"),
          round(col("mean_ln"), 6).as("mean_ln_price"),
          round(exp(col("mean_ln")), 4).as("geomean_price"))
        .orderBy("brand")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_sortino" -> s"""
      |WITH $lr8Sql,
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(lr8) AS s1,
      |    sum(CASE WHEN lr8 < 0 THEN lr8 * lr8
      |      ELSE CAST(0 AS DECIMAL(37,16)) END) AS sd2
      |  FROM r GROUP BY 1)
      |SELECT event_type, n,
      |  round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS sortino
      |FROM g ORDER BY event_type""".stripMargin,

    "agg_omega_ratio" -> s"""
      |WITH $lr8Sql,
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(CASE WHEN lr8 > 0 THEN lr8
      |      ELSE CAST(0 AS DECIMAL(18,8)) END) AS g,
      |    sum(CASE WHEN lr8 < 0 THEN -lr8
      |      ELSE CAST(0 AS DECIMAL(18,8)) END) AS l
      |  FROM r GROUP BY 1)
      |SELECT event_type, n,
      |  round(CAST(g AS DOUBLE) / CAST(l AS DOUBLE), 6) AS omega
      |FROM g ORDER BY event_type""".stripMargin,

    "llm_jaccard_hist" -> (graft.functions.TextShingles.duckShingleCte + """,
      |p AS (SELECT len(list_intersect(a.sh, b.sh)) inter,
      |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) uni
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
      |j AS (SELECT CAST(inter AS DOUBLE) / uni AS j
      |  FROM p WHERE inter * 10 >= uni * 6),
      |b AS (SELECT CASE WHEN j >= 0.95 THEN '0.95+'
      |    WHEN j >= 0.90 THEN '0.90' WHEN j >= 0.85 THEN '0.85'
      |    WHEN j >= 0.80 THEN '0.80' WHEN j >= 0.75 THEN '0.75'
      |    WHEN j >= 0.70 THEN '0.70' WHEN j >= 0.65 THEN '0.65'
      |    ELSE '0.60' END AS bin
      |  FROM j)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM b GROUP BY 1 ORDER BY bin""".stripMargin),

    "udaf_geomean" -> """
      |WITH t AS (SELECT p_brand,
      |    CAST(round(ln(p_retailprice), 8) AS DECIMAL(18,8)) AS ln8
      |  FROM part),
      |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
      |    CAST(CAST(sum(ln8) * 100000000 AS HUGEINT) AS DOUBLE)
      |      / (1e8 * CAST(count(*) AS DOUBLE)) AS ml
      |  FROM t GROUP BY 1)
      |SELECT p_brand AS brand, n_parts,
      |  round(ml, 6) AS mean_ln_price,
      |  round(exp(ml), 4) AS geomean_price
      |FROM g ORDER BY brand""".stripMargin)
}
