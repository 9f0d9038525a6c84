package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 wave: the approximate-sketch statistics family — the true
  * 100 TB statistics path the r7 verdict asked for (item 5). Exact
  * percentiles at scale need a full sort or a GlobalRank pass; the
  * production form is a one-pass mergeable sketch, represented here
  * three ways:
  *
  *  - `agg_approx_quantiles`: Spark's built-in `percentile_approx`
  *    (Greenwald-Khanna) at accuracy 10000 — oracle-OMITTED like
  *    `agg_approx_distinct` (sketch compression is engine-specific;
  *    DuckDB's approx_quantile uses t-digest and estimates differ),
  *    with Round8Spec asserting rank error ≤ 0.5 % against the exact
  *    percentile at sf0.001 / sf0.01 / sf0.1;
  *  - `agg_quantile_grid`: a fixed 1024-bucket histogram-CDF quantile
  *    over exact centi-unit integers — fully deterministic AND
  *    commutative (bucket counts are plain sums, no merge-order
  *    sensitivity), so unlike the GK sketch it hash-matches a DuckDB
  *    oracle cell-exactly; value error is bounded by one bucket width
  *    (max−min)/1024, which Round8Spec also pins;
  *  - `llm_sample_bottomk`: the distributed reservoir equivalent — a
  *    fixed-size k=1000 bottom-k-by-hash priority sample (mergeable:
  *    each partition's local bottom-k union-merges exactly, the same
  *    TakeOrdered shape as every top-k here) audited per language
  *    (sample count + mean doc length), deterministic via the shared
  *    [[graft.QueryUtils.hash60]] idiom and hash-matched.
  */
object Round8Queries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- built-in GK sketch (oracle-omit; spec-bounded) -----------------
    "agg_approx_quantiles" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
        .select(col("l_returnflag"), col("n"),
          col("qs").getItem(0).as("p50"),
          col("qs").getItem(1).as("p90"),
          col("qs").getItem(2).as("p99"))
        .orderBy("l_returnflag")
    }),

    // ---- deterministic 1024-bucket histogram-CDF quantile ---------------
    // One broadcast (flag, lo, hi, n) bounds table, one map-side
    // bucketing pass into a ≤ |flags|×1024-row histogram, a
    // flag-partitioned cumulative sum over that bounded table, and the
    // p-th value = the lower edge of the first bucket whose cumulative
    // count reaches ceil(n·p/100). Every step is exact integer
    // arithmetic on centi-units (div with provably positive operands),
    // so the estimate hash-matches DuckDB cell-exactly while the error
    // stays ≤ one bucket width.
    "agg_quantile_grid" -> ((s, dir) => {
      val base = Tables.lineitem(s, dir).select(col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("vc"))
      val g = base.groupBy("flag").agg(min("vc").as("lo"), max("vc").as("hi"),
        count(lit(1)).as("n"))
      val hist = base.join(broadcast(g), "flag")
        .withColumn("bucket", when(col("hi") === col("lo"), lit(0L))
          .otherwise(expr("((vc - lo) * 1024) div (hi - lo + 1)")))
        .groupBy("flag", "bucket").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("flag").orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cum", sum("cnt").over(w))
        .join(broadcast(g), "flag")
        .withColumn("r50", expr("(n * 50 + 99) div 100"))
        .withColumn("r90", expr("(n * 90 + 99) div 100"))
        .withColumn("r99", expr("(n * 99 + 99) div 100"))
      cum.groupBy("flag")
        .agg(max("n").as("n"), max("lo").as("lo"), max("hi").as("hi"),
          min(when(col("cum") >= col("r50"), col("bucket"))).as("b50"),
          min(when(col("cum") >= col("r90"), col("bucket"))).as("b90"),
          min(when(col("cum") >= col("r99"), col("bucket"))).as("b99"))
        .select(col("flag").as("l_returnflag"), col("n"),
          (expr("lo + (b50 * (hi - lo + 1)) div 1024").cast(DoubleType) / 100.0)
            .as("p50"),
          (expr("lo + (b90 * (hi - lo + 1)) div 1024").cast(DoubleType) / 100.0)
            .as("p90"),
          (expr("lo + (b99 * (hi - lo + 1)) div 1024").cast(DoubleType) / 100.0)
            .as("p99"))
        .orderBy("l_returnflag")
    }),

    // ---- fixed-size bottom-k-by-hash sample audit -----------------------
    "llm_sample_bottomk" -> ((s, dir) => {
      val samp = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("hv", hash60(col("doc_id").cast("string")))
        .orderBy(col("hv").asc, col("doc_id").asc)
        .limit(1000)
      samp.groupBy("lang")
        .agg(count(lit(1)).as("n_sample"),
          (sum("n_chars").cast(DoubleType) / count(lit(1)).cast(DoubleType))
            .as("mean_chars"))
        .orderBy("lang")
    }))

  val oracles: Map[String, String] = Map(
    // agg_approx_quantiles deliberately omitted: the GK sketch's
    // estimates are engine-specific (DuckDB ships t-digest); Round8Spec
    // bounds rank error against the exact percentile instead — the
    // declared HLL-exemption pattern (SURVEY §2.D).

    "agg_quantile_grid" -> """
      |WITH base AS (SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM lineitem),
      |g AS (SELECT flag, min(vc) AS lo, max(vc) AS hi,
      |    CAST(count(*) AS BIGINT) AS n FROM base GROUP BY flag),
      |hist AS (SELECT flag, CASE WHEN hi = lo THEN 0
      |      ELSE ((vc - lo) * 1024) // (hi - lo + 1) END AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM base JOIN g USING (flag) GROUP BY 1, 2),
      |c AS (SELECT flag, bucket, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS BIGINT) AS cum
      |  FROM hist),
      |p AS (SELECT c.flag, bucket, cum, lo, hi, n,
      |    (n * 50 + 99) // 100 AS r50, (n * 90 + 99) // 100 AS r90,
      |    (n * 99 + 99) // 100 AS r99
      |  FROM c JOIN g USING (flag)),
      |q AS (SELECT flag, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
      |    min(CASE WHEN cum >= r50 THEN bucket END) AS b50,
      |    min(CASE WHEN cum >= r90 THEN bucket END) AS b90,
      |    min(CASE WHEN cum >= r99 THEN bucket END) AS b99
      |  FROM p GROUP BY flag)
      |SELECT flag AS l_returnflag, n,
      |  CAST(lo + (b50 * (hi - lo + 1)) // 1024 AS DOUBLE) / 100.0 AS p50,
      |  CAST(lo + (b90 * (hi - lo + 1)) // 1024 AS DOUBLE) / 100.0 AS p90,
      |  CAST(lo + (b99 * (hi - lo + 1)) // 1024 AS DOUBLE) / 100.0 AS p99
      |FROM q ORDER BY l_returnflag""".stripMargin,

    "llm_sample_bottomk" -> s"""
      |WITH h AS (SELECT doc_id, lang, n_chars,
      |    ${hash60Sql("doc_id")} AS hv
      |  FROM documents),
      |s AS (SELECT * FROM h ORDER BY hv, doc_id LIMIT 1000)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_sample,
      |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin)
}
