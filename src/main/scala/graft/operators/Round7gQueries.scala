package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 seventh wave: chained price indices (Laspeyres / Paasche /
  * Fisher), the RSI momentum oscillator, and Katz-style attenuated
  * walk counts over the near-dup graph.
  *
  * Same determinism discipline as wave 6: per-part unit prices are
  * exact integer micro-units (rational half-up, never round(double)),
  * walk counts and gain/loss sums are exact longs, and doubles appear
  * only in final fixed-order expressions over identical exact inputs.
  */
object Round7gQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- chained price indices -------------------------------------------
    // Month-over-month Laspeyres (base-weighted), Paasche
    // (current-weighted) and Fisher (geometric mean) price indices over
    // parts shipped in BOTH months: the econ-stats complement of
    // win_pct_change (which tracks revenue, not price level). Unit
    // prices are exact integer micro-prices (2a+b) div (2b) of cent
    // sums — never a rounded double; index numerators/denominators are
    // exact (38,0) decimal products; each index is one double division,
    // 6dp-rounded identically on both engines. One (part, month)
    // aggregate, then one partkey-keyed LAG window instead of a month
    // self-join — a consecutive-calendar pair is necessarily adjacent
    // in the part's sorted month sequence, so lag(1) + a month
    // adjacency filter pairs exactly the same rows at half the
    // shuffles (measured ~2x over the materialize+self-join form).
    "agg_price_index" -> ((s, dir) => {
      val pm = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), trunc(col("l_shipdate"), "mm").as("month"))
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
          .cast("long").as("epc"),
          (sum(col("l_quantity").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("qc"))
        .select(col("l_partkey"), col("month"), col("qc"),
          expr("(2 * epc * 1000000 + qc) div (2 * qc)").as("pu"))
      val wlag = Window.partitionBy("l_partkey").orderBy("month")
      def prod(a: Column, b: Column): Column =
        a.cast(DecimalType(19, 0)) * b.cast(DecimalType(19, 0))
      pm
        .withColumn("m0", lag("month", 1).over(wlag))
        .withColumn("p0", lag("pu", 1).over(wlag))
        .withColumn("q0", lag("qc", 1).over(wlag))
        .where(col("month") === add_months(col("m0"), 1))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_parts"),
          sum(prod(col("pu"), col("q0"))).as("lnum"),
          sum(prod(col("p0"), col("q0"))).as("lden"),
          sum(prod(col("pu"), col("qc"))).as("pnum"),
          sum(prod(col("p0"), col("qc"))).as("pden"))
        .select(col("month"), col("n_parts"),
          round(d(col("lnum")) / d(col("lden")), 6).as("laspeyres"),
          round(d(col("pnum")) / d(col("pden")), 6).as("paasche"),
          round(sqrt((d(col("lnum")) / d(col("lden"))) *
            (d(col("pnum")) / d(col("pden")))), 6).as("fisher"))
        .orderBy("month")
    }),

    // ---- RSI momentum oscillator ------------------------------------------
    // 14-day RSI of daily spend per event type: 100 − 100/(1 + Σgains/
    // Σlosses) over the trailing 14 day-over-day deltas. Deltas, gains
    // and losses are exact micro-unit longs (one lag + one ROWS frame);
    // the flat-series edge (Σlosses = 0) pins RSI to 100 explicitly on
    // both engines rather than riding IEEE ∞ semantics.
    "win_rsi" -> ((s, dir) => {
      val base = dailyMicro(s, dir)
      val wo = Window.partitionBy("event_type").orderBy("day")
      val wf = wo.rowsBetween(-13, Window.currentRow)
      base
        .withColumn("delta", col("xu") - lag("xu", 1).over(wo))
        .withColumn("nd", count(col("delta")).over(wf))
        .withColumn("g", sum(greatest(col("delta"), lit(0L))).over(wf))
        .withColumn("l", sum(greatest(-col("delta"), lit(0L))).over(wf))
        .where(col("nd") === 14)
        .select(col("event_type"), col("day"),
          when(col("l") === 0, lit(100.0))
            .otherwise(round(lit(100.0) -
              lit(100.0) / (lit(1.0) + d(col("g")) / d(col("l"))), 6))
            .as("rsi14"))
        .orderBy("event_type", "day")
    }),

    // ---- Katz attenuated walk counts --------------------------------------
    // katz₃(v) = β·W₁ + β²·W₂ + β³·W₃ with Wₖ the number of length-k
    // WALKS from v (repetition allowed — the path-counting complement
    // of graph_harmonic_centrality's min-distance view) over the
    // simhash near-dup graph, β = 0.1. Walk counts come from two
    // degree-vector joins (Wₖ = Σ_nbr Wₖ₋₁(nbr)) on the memoized pair
    // artifact — exact longs; the attenuated sum is one fixed-order
    // double expression.
    "graph_katz_walks" -> ((s, dir) => {
      val pairs = graft.tools.PairArtifacts.of(s, dir, "simhash")(
        ScaleQueries.queries("llm_dedup_simhash")(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val edges = graft.tools.Materialize.eager("katz.edges",
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      val w1 = graft.tools.Materialize.eager("katz.w1",
        edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("w1")))
      val w2 = graft.tools.Materialize.eager("katz.w2",
        edges.join(w1.withColumnRenamed("node", "dst")
            .withColumnRenamed("w1", "nw"), "dst")
          .groupBy(col("src").as("node")).agg(sum("nw").as("w2")))
      val w3 = edges.join(w2.withColumnRenamed("node", "dst")
          .withColumnRenamed("w2", "nw"), "dst")
        .groupBy(col("src").as("node")).agg(sum("nw").as("w3"))
      w1.join(w2, "node").join(w3, "node")
        .select(col("node").as("doc_id"), col("w1"), col("w2"), col("w3"),
          round(lit(0.1) * d(col("w1")) + lit(0.01) * d(col("w2")) +
            lit(0.001) * d(col("w3")), 6).as("katz3"))
        .orderBy("doc_id")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_price_index" -> """
      |WITH pm AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS epc,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qc
      |  FROM lineitem GROUP BY 1, 2),
      |pu AS (SELECT l_partkey, month, qc,
      |    (2 * epc * 1000000 + qc) // (2 * qc) AS pu
      |  FROM pm),
      |j AS (SELECT b.month AS month, CAST(count(*) AS BIGINT) AS n_parts,
      |    sum(CAST(b.pu AS DECIMAL(19,0)) * CAST(a.qc AS DECIMAL(19,0)))
      |      AS lnum,
      |    sum(CAST(a.pu AS DECIMAL(19,0)) * CAST(a.qc AS DECIMAL(19,0)))
      |      AS lden,
      |    sum(CAST(b.pu AS DECIMAL(19,0)) * CAST(b.qc AS DECIMAL(19,0)))
      |      AS pnum,
      |    sum(CAST(a.pu AS DECIMAL(19,0)) * CAST(b.qc AS DECIMAL(19,0)))
      |      AS pden
      |  FROM pu a JOIN pu b ON a.l_partkey = b.l_partkey
      |    AND b.month = a.month + INTERVAL 1 MONTH
      |  GROUP BY 1)
      |SELECT CAST(month AS DATE) AS month, n_parts,
      |  round(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE), 6) AS laspeyres,
      |  round(CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE), 6) AS paasche,
      |  round(sqrt((CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE))
      |    * (CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE))), 6) AS fisher
      |FROM j ORDER BY month""".stripMargin,

    "win_rsi" -> """
      |WITH base AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS xu
      |  FROM events GROUP BY 1, 2),
      |dl AS (SELECT event_type, day,
      |    xu - lag(xu, 1) OVER (PARTITION BY event_type ORDER BY day) AS delta
      |  FROM base),
      |fr AS (SELECT event_type, day,
      |    CAST(count(delta) OVER w AS BIGINT) AS nd,
      |    CAST(sum(greatest(delta, 0)) OVER w AS BIGINT) AS g,
      |    CAST(sum(greatest(-delta, 0)) OVER w AS BIGINT) AS l
      |  FROM dl
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CASE WHEN l = 0 THEN 100.0
      |    ELSE round(100.0 - 100.0 / (1.0
      |      + CAST(g AS DOUBLE) / CAST(l AS DOUBLE)), 6) END AS rsi14
      |FROM fr WHERE nd = 14 ORDER BY event_type, day""".stripMargin,

    "graph_katz_walks" -> {
      val pairBody = ScaleQueries.oracles("llm_dedup_simhash")
      s"""WITH simpairs AS ($pairBody),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM simpairs
        |  UNION ALL SELECT doc_b, doc_a FROM simpairs),
        |w1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS w1
        |  FROM edges GROUP BY 1),
        |w2 AS (SELECT e.src AS node, CAST(sum(w1.w1) AS BIGINT) AS w2
        |  FROM edges e JOIN w1 ON e.dst = w1.node GROUP BY 1),
        |w3 AS (SELECT e.src AS node, CAST(sum(w2.w2) AS BIGINT) AS w3
        |  FROM edges e JOIN w2 ON e.dst = w2.node GROUP BY 1)
        |SELECT w1.node AS doc_id, w1, w2, w3,
        |  round(0.1 * CAST(w1 AS DOUBLE) + 0.01 * CAST(w2 AS DOUBLE)
        |    + 0.001 * CAST(w3 AS DOUBLE), 6) AS katz3
        |FROM w1 JOIN w2 ON w1.node = w2.node JOIN w3 ON w1.node = w3.node
        |ORDER BY doc_id""".stripMargin
    })
}
