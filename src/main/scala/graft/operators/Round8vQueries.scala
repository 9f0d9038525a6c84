package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-second wave: surface diversity — nested-JSON source
  * roundtrip (array-of-struct schema), the Luhn checksum scalar,
  * month-over-month contribution analysis, and symmetric set
  * difference.
  *
  * Determinism: the JSON roundtrip carries integers and exact decimal
  * strings (Spark writes round-trippable doubles; the oracle never
  * sees the JSON — it recomputes the flattened aggregate from
  * parquet); Luhn is pure integer digit arithmetic replayed by the
  * oracle; contribution deltas are exact centi longs on a complete
  * month × nation grid; the symmetric difference is two EXCEPTs with
  * a post-hoc side marker.
  */
object Round8vQueries extends graft.QueryFamily {

  /** App-id-salted scratch (shared scheme, see graft.tools.Scratch). */
  private def scratch(s: SparkSession, kind: String, dir: String): String =
    graft.tools.Scratch.dir(s, kind, dir)

  val queries: Map[String, QFn] = Map(

    // ---- nested-JSON source roundtrip ---------------------------------------
    // Orders nested with their lineitem array (array<struct> schema,
    // lines sorted by linenumber), written to JSON, read back with the
    // explicit nested schema, re-flattened and re-aggregated — the
    // document-shaped ingest path. The oracle computes the same
    // per-order aggregate straight from parquet, so the roundtrip must
    // be lossless end to end.
    "source_json_nested" -> ((s, dir) => {
      val out = scratch(s, "jsonnest", dir)
      val nested = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("price"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(
          col("l_linenumber"), col("qty"), col("price")))).as("lines"))
      // r14: parallel write — the old coalesce(1) collapsed the whole
      // upstream aggregate AND the JSON serialization of every nested
      // order into ONE task (guide §2/§6: a single-task funnel, and at
      // 100 TB a single output file is not even writable). The reader
      // side is schema-explicit and splittable over a many-file
      // directory; the query's result is re-aggregated and ordered, so
      // file count cannot move a bit of output.
      nested.write.mode("overwrite").json(out)
      val schema = "l_orderkey BIGINT, lines ARRAY<STRUCT<" +
        "l_linenumber: INT, qty: BIGINT, price: DECIMAL(18,2)>>"
      s.read.schema(schema).json(out)
        .select(col("l_orderkey"), explode(col("lines")).as("l"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"), sum("l.qty").as("total_qty"),
          sum("l.price").cast(DoubleType).as("total_price"))
        .orderBy("l_orderkey")
    }),

    // ---- Luhn checksum validation ----------------------------------------------
    // luhn_check over the order-key digit string per priority — the
    // payment-card-style checksum gate (built-in Catalyst Luhncheck
    // expression; the oracle replays the double-every-second-digit
    // ledger in SQL). Map-only to a catalog-bounded aggregate.
    "fn_luhn" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          expr("luhn_check(CAST(o_orderkey AS STRING))").as("ok"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), count_if(col("ok")).as("n_valid"))
        .select(col("o_orderpriority"), col("n"), col("n_valid"),
          round(d(col("n_valid")) / d(col("n")), 6).as("share"))
        .orderBy("o_orderpriority")),

    // ---- month-over-month contribution ---------------------------------------------
    // Which nation drove each month's revenue change: per (month,
    // nation) centi revenue on a COMPLETE month × nation grid (zero
    // months count), Δ vs the previous calendar month, contribution =
    // Δ_nation / Δ_total (NULL on a flat total). Exact integer deltas;
    // grid is calendar × catalog bounded.
    "agg_mom_contribution" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("mi"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("rev"))
      val months = rev.select("mi").distinct()
      val nations = rev.select("nk").distinct()
      val grid = months.crossJoin(broadcast(nations))
        .join(rev, Seq("nk", "mi"), "left").na.fill(0L, Seq("rev"))
      val w = Window.partitionBy("nk").orderBy("mi")
      val delta = grid
        .withColumn("prev", lag("rev", 1).over(w))
        .withColumn("pmi", lag("mi", 1).over(w))
        .where(col("pmi") === col("mi") - 1)
        .withColumn("dlt", col("rev") - col("prev"))
      val tot = delta.groupBy(col("mi").as("mi2"))
        .agg(sum("dlt").as("dtot"))
      delta.join(broadcast(tot), col("mi") === col("mi2"))
        .select(col("mi").as("month_idx"), col("nk").as("nationkey"),
          (d(col("dlt")) / 100.0).as("delta"),
          when(col("dtot") =!= 0,
            round(d(col("dlt")) / d(col("dtot")), 6)).as("contribution"))
        .orderBy("month_idx", "nationkey")
    }),

    // ---- symmetric set difference ------------------------------------------------------
    // Customers who ordered in exactly ONE of 1997H1 / 1997H2 — two
    // EXCEPTs union'd with a post-hoc side marker (the XOR the
    // existing set family lacks). Distinct-key inputs keep EXCEPT
    // set-semantics exact.
    "set_symmetric_diff" -> ((s, dir) => {
      def half(from: String, until: String) = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select("o_custkey").distinct()
      val h1 = half("1997-01-01", "1997-07-01")
      val h2 = half("1997-07-01", "1998-01-01")
      h1.except(h2).withColumn("side", lit("h1_only"))
        .unionByName(h2.except(h1).withColumn("side", lit("h2_only")))
        .orderBy("o_custkey")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "source_json_nested" -> """
      |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "fn_luhn" -> """
      |WITH t AS (SELECT o_orderpriority,
      |    CAST(o_orderkey AS VARCHAR) AS s FROM orders),
      |v AS (SELECT o_orderpriority,
      |    (list_aggregate(list_transform(generate_series(1, length(s)),
      |      i -> CASE WHEN i % 2 = 0
      |        THEN CASE WHEN 2 * CAST(s[length(s)-i+1] AS INT) > 9
      |             THEN 2 * CAST(s[length(s)-i+1] AS INT) - 9
      |             ELSE 2 * CAST(s[length(s)-i+1] AS INT) END
      |        ELSE CAST(s[length(s)-i+1] AS INT) END), 'sum') % 10 = 0)
      |      AS ok
      |  FROM t)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (ok) AS BIGINT) AS n_valid,
      |  round(CAST(count(*) FILTER (ok) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS share
      |FROM v GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_mom_contribution" -> """
      |WITH rev AS (SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |    CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
      |      AS BIGINT) AS mi,
      |    CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |grid AS (SELECT m.mi, n.nk, coalesce(r.rev, 0) AS rev
      |  FROM (SELECT DISTINCT mi FROM rev) m
      |  CROSS JOIN (SELECT DISTINCT nk FROM rev) n
      |  LEFT JOIN rev r ON r.mi = m.mi AND r.nk = n.nk),
      |delta AS (SELECT mi, nk, rev - prev AS dlt FROM (
      |    SELECT mi, nk, rev, lag(rev) OVER w AS prev,
      |      lag(mi) OVER w AS pmi
      |    FROM grid WINDOW w AS (PARTITION BY nk ORDER BY mi)) x
      |  WHERE pmi = mi - 1),
      |tot AS (SELECT mi AS mi2, CAST(sum(dlt) AS BIGINT) AS dtot
      |  FROM delta GROUP BY 1)
      |SELECT mi AS month_idx, nk AS nationkey,
      |  CAST(dlt AS DOUBLE) / 100.0 AS delta,
      |  CASE WHEN dtot <> 0
      |       THEN round(CAST(dlt AS DOUBLE) / CAST(dtot AS DOUBLE), 6)
      |  END AS contribution
      |FROM delta JOIN tot ON mi = mi2
      |ORDER BY month_idx, nationkey""".stripMargin,

    "set_symmetric_diff" -> """
      |WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-07-01'),
      |h2 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_custkey, 'h1_only' AS side
      |  FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2) a
      |UNION ALL
      |SELECT o_custkey, 'h2_only' AS side
      |  FROM (SELECT o_custkey FROM h2 EXCEPT SELECT o_custkey FROM h1) b
      |ORDER BY o_custkey""".stripMargin)
}
