package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 fourteenth wave: Gini between/within decomposition, the
  * Lorenz asymmetry coefficient, the from_csv scalar-parse surface and
  * Elder-ray bull/bear power.
  *
  * Determinism: the Gini decomposition is fully rational — all three
  * components share the single denominator n·S, with between-group
  * mass Σᵢⱼ|Sᵢnⱼ − Sⱼnᵢ| an exact integer over the catalog-bounded
  * nation pairs and within-group mass Σᵢ(2Rᵢ − (nᵢ+1)Sᵢ) from
  * GlobalRank ranks; the Lorenz asymmetry compares n·rev against S so
  * the mean never materializes as a double; Elder-ray rides the
  * EwmaWeights exact integer table.
  */
object Round9nQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Gini between/within decomposition -------------------------------------
    // G_total = G_between + G_within + overlap over customer revenue
    // grouped by nation: every component is an exact integer numerator
    // over the SAME n·S denominator, so the residual is exact too.
    // Ranks ride GlobalRank (global + per-nation, groupsHint=25);
    // between-group pairs are the ≤25×25 nation grid.
    "agg_gini_decomp" -> ((s, dir) => {
      // r14: the customer-revenue grain feeds THREE consumers (both
      // rank passes and the nation marginals) — materialize it once
      // (the agg_rfm_segments idiom) instead of re-running the
      // orders⋈customer join + aggregate three times.
      val rev = graft.tools.Materialize.eager("gini_decomp.rev",
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("o_custkey", "c_nationkey")
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("revc")))
      val dc = (c: Column) => c.cast(DecimalType(38, 0))
      // global rank → total numerator 2R − (n+1)S
      val gTot = GlobalRank.withSeqAndCount(rev, "__i", "__n", Seq.empty,
          Seq(col("revc").asc, col("o_custkey").asc))
        .agg(count(lit(1)).as("n"), sum(dc(col("revc"))).as("s"),
          sum(dc(col("__i")) * dc(col("revc"))).as("r"))
        .select(col("n"), col("s"),
          (lit(2) * col("r") - (dc(col("n")) + lit(1)) * col("s"))
            .as("num_t"))
      // per-nation ranks → within numerator Σ(2Rᵢ − (nᵢ+1)Sᵢ)
      val gW = GlobalRank.withSeqAndCount(rev, "__i", "__n",
          Seq("c_nationkey"), Seq(col("revc").asc, col("o_custkey").asc),
          groupsHint = 25)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("ni"), sum(dc(col("revc"))).as("si"),
          sum(dc(col("__i")) * dc(col("revc"))).as("ri"))
        .agg(sum(lit(2) * col("ri")
          - (dc(col("ni")) + lit(1)) * col("si")).as("num_w"))
      // nation marginals → between numerator Σᵢⱼ|Sᵢnⱼ − Sⱼnᵢ|
      val marg = rev.groupBy("c_nationkey")
        .agg(count(lit(1)).as("ni"), sum(dc(col("revc"))).as("si"))
      val mb = marg.select(col("c_nationkey").as("nk2"),
        col("ni").as("nj"), col("si").as("sj"))
      val gB = marg.crossJoin(broadcast(mb))
        .where(col("c_nationkey") =!= col("nk2"))
        .agg((sum(abs(col("si") * dc(col("nj")) - col("sj") * dc(col("ni"))))
          / lit(2)).cast(DecimalType(38, 0)).as("num_b2"))
      gTot.crossJoin(broadcast(gW)).crossJoin(broadcast(gB))
        .select(col("n"),
          round(d(col("num_t")) / (d(col("n")) * d(col("s"))), 6)
            .as("g_total"),
          round(d(col("num_b2")) / (d(col("n")) * d(col("s"))), 6)
            .as("g_between"),
          round(d(col("num_w")) / (d(col("n")) * d(col("s"))), 6)
            .as("g_within"),
          round(d(col("num_t") - col("num_b2") - col("num_w"))
            / (d(col("n")) * d(col("s"))), 6).as("g_overlap"))
    }),

    // ---- Lorenz asymmetry ----------------------------------------------------------
    // A = F(μ) + L(μ): the population share below the mean plus their
    // revenue share (A < 1 ⇔ inequality driven by a few giants). The
    // below-mean test is the integer cross-multiply n·rev < S — the
    // mean never exists as a double.
    "agg_lorenz_asymmetry" -> ((s, dir) => {
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("revc"))
      val tot = rev.agg(count(lit(1)).as("n"),
        sum(col("revc").cast(DecimalType(38, 0))).as("s"))
      rev.crossJoin(broadcast(tot))
        .withColumn("below",
          col("revc").cast(DecimalType(38, 0)) * col("n") < col("s"))
        .agg(max("n").as("n_customers"),
          count_if(col("below")).as("m_below"),
          sum(when(col("below"), col("revc")).otherwise(lit(0L)))
            .cast("long").as("s_below"),
          max("s").as("s_total"))
        .select(col("n_customers"), col("m_below"),
          round(d(col("m_below")) / d(col("n_customers"))
            + d(col("s_below")) / d(col("s_total")), 6).as("asymmetry"))
    }),

    // ---- from_csv scalar parse -------------------------------------------------------
    // Pack three order fields into one CSV string, parse it back with
    // from_csv and emit the parsed struct fields — the scalar CSV
    // codec surface (the file-level sibling is source_csv_quoted).
    // Oracle replays the construction straight from the base columns.
    // The price is parsed as decimal(18,2) (the codec under test) but
    // EMITTED as an exact centi long: r9's driver run proved decimal
    // output columns hash differently at the driver even when every
    // cell is exact, so the output edge stays inside the proven dtype
    // envelope (QueriesSpec "output dtype envelope" gates the class).
    "fn_from_csv" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast(DecimalType(18, 2))).as("line"))
        .select(col("o_orderkey"),
          from_csv(col("line"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "k long, st string, tp decimal(18,2)"),
            Map.empty[String, String]).as("p"))
        .select(col("o_orderkey"), col("p.k").as("parsed_key"),
          col("p.st").as("parsed_status"),
          (col("p.tp") * 100).cast("long").as("parsed_price_c"))
        .orderBy("o_orderkey")),

    // ---- Elder-ray bull/bear power ------------------------------------------------------
    // Bull = high − EWMA(close), bear = low − EWMA(close) per event
    // type — buyer/seller strength vs consensus value. The EWMA rides
    // the EwmaWeights exact integer table (micro-unit half-up), so
    // both powers are exact integers until /1e6.
    "win_elder_ray" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("c6", (col("cc").cast(DecimalType(38, 0)) * 10000))
        .join(broadcast(EwmaWeights.df(s)), "day")
        .withColumn("nu", sum(col("c6") * col("w")).over(w))
        .withColumn("de", sum(col("w")).over(w))
        .withColumn("ew6", expr("(2 * nu + de) div (2 * de)"))
        .select(col("event_type"), col("day"),
          (d(col("ew6")) / 1.0e6).as("ewma_close"),
          (d(col("hc") * lit(10000L) - col("ew6")) / 1.0e6).as("bull_power"),
          (d(col("lc") * lit(10000L) - col("ew6")) / 1.0e6).as("bear_power"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_gini_decomp" -> """
      |WITH rev AS (SELECT o.o_custkey, c.c_nationkey,
      |    CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS revc
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |gt AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(revc AS HUGEINT)) AS s,
      |    2 * sum(CAST(i AS HUGEINT) * revc)
      |      - (CAST(count(*) AS HUGEINT) + 1) * sum(CAST(revc AS HUGEINT))
      |      AS num_t
      |  FROM (SELECT revc, row_number() OVER (ORDER BY revc, o_custkey)
      |      AS i FROM rev) x),
      |gw AS (SELECT sum(2 * ri - (ni + 1) * si) AS num_w FROM (
      |    SELECT c_nationkey, CAST(count(*) AS HUGEINT) AS ni,
      |      sum(CAST(revc AS HUGEINT)) AS si,
      |      sum(CAST(i AS HUGEINT) * revc) AS ri
      |    FROM (SELECT c_nationkey, revc, o_custkey,
      |        row_number() OVER (PARTITION BY c_nationkey
      |          ORDER BY revc, o_custkey) AS i FROM rev) x
      |    GROUP BY 1) g),
      |m AS (SELECT c_nationkey, CAST(count(*) AS HUGEINT) AS ni,
      |    sum(CAST(revc AS HUGEINT)) AS si
      |  FROM rev GROUP BY 1),
      |gb AS (SELECT sum(abs(a.si * b.ni - b.si * a.ni)) // 2 AS num_b2
      |  FROM m a JOIN m b ON a.c_nationkey <> b.c_nationkey)
      |SELECT gt.n,
      |  round(CAST(gt.num_t AS DOUBLE)
      |    / (CAST(gt.n AS DOUBLE) * CAST(gt.s AS DOUBLE)), 6) AS g_total,
      |  round(CAST(gb.num_b2 AS DOUBLE)
      |    / (CAST(gt.n AS DOUBLE) * CAST(gt.s AS DOUBLE)), 6) AS g_between,
      |  round(CAST(gw.num_w AS DOUBLE)
      |    / (CAST(gt.n AS DOUBLE) * CAST(gt.s AS DOUBLE)), 6) AS g_within,
      |  round(CAST(gt.num_t - gb.num_b2 - gw.num_w AS DOUBLE)
      |    / (CAST(gt.n AS DOUBLE) * CAST(gt.s AS DOUBLE)), 6) AS g_overlap
      |FROM gt, gw, gb""".stripMargin,

    "agg_lorenz_asymmetry" -> """
      |WITH rev AS (SELECT o_custkey,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS revc
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(revc AS HUGEINT)) AS s
      |  FROM rev),
      |g AS (SELECT (SELECT n FROM t) AS n_customers,
      |    CAST(count(*) FILTER (CAST(revc AS HUGEINT) * (SELECT n FROM t)
      |      < (SELECT s FROM t)) AS BIGINT) AS m_below,
      |    CAST(coalesce(sum(revc) FILTER (CAST(revc AS HUGEINT)
      |      * (SELECT n FROM t) < (SELECT s FROM t)), 0) AS BIGINT)
      |      AS s_below,
      |    (SELECT s FROM t) AS s_total
      |  FROM rev)
      |SELECT n_customers, m_below,
      |  round(CAST(m_below AS DOUBLE) / CAST(n_customers AS DOUBLE)
      |    + CAST(s_below AS DOUBLE) / CAST(s_total AS DOUBLE), 6)
      |    AS asymmetry
      |FROM g""".stripMargin,

    "fn_from_csv" -> """
      |SELECT o_orderkey, o_orderkey AS parsed_key,
      |  o_orderstatus AS parsed_status,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS parsed_price_c
      |FROM orders ORDER BY o_orderkey""".stripMargin,

    "win_elder_ray" -> s"""
      |WITH $dailyBarsSql,
      |wt(day, w) AS (VALUES
      |    ${EwmaWeights.valuesSql}),
      |j AS (SELECT b.event_type, b.day, b.hc, b.lc,
      |    CAST(b.cc AS HUGEINT) * 10000 AS c6, wt.w
      |  FROM bars b JOIN wt ON b.day = wt.day),
      |l AS (SELECT event_type, day, hc, lc,
      |    sum(c6 * w) OVER win AS nu, sum(w) OVER win AS de
      |  FROM j WINDOW win AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |e AS (SELECT event_type, day, hc, lc,
      |    (2 * nu + de) // (2 * de) AS ew6
      |  FROM l)
      |SELECT event_type, day,
      |  CAST(ew6 AS DOUBLE) / 1e6 AS ewma_close,
      |  CAST(CAST(hc AS HUGEINT) * 10000 - ew6 AS DOUBLE) / 1e6
      |    AS bull_power,
      |  CAST(CAST(lc AS HUGEINT) * 10000 - ew6 AS DOUBLE) / 1e6
      |    AS bear_power
      |FROM e ORDER BY event_type, day""".stripMargin)
}
