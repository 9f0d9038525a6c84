package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 third wave: resampling inference (grouped jackknife),
  * generalized means, the recursive-CTE surface (Spark 4.x WITH
  * RECURSIVE), and month-over-month rank movers on the GlobalRank
  * kernel (the wave's NDCG@10 lives in [[AnnQueries]]).
  */
object Round7cQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- grouped jackknife standard error --------------------------------
    // Leave-one-NATION-out jackknife SE of the mean order price (the
    // "how fragile is this corpus-level mean to one cohort" question):
    // per-nation exact decimal moments, 25 leave-one-out means,
    // SE = sqrt((g−1)/g · Σ(θ_i − θ̄)²) with the squared terms
    // round(·, 8)-quantized before the cross-group sum. Everything
    // after the one customer-keyed join runs on the 25-row table.
    "agg_jackknife_nation" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nk"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
      val per = o.groupBy("nk").agg(count(lit(1)).as("ni"), sum("p").as("si"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      // θ_(-i), θ̄ and the squared deviations as EXACT half-up 1e-8
      // integers (BoundaryGuard r9: (s−si)/(n−ni) terminates whenever
      // n−ni is 2-5-smooth, landing exactly on 8dp half boundaries —
      // the systematic string-vs-binary rounding hazard). sq16 is the
      // UNROUNDED exact square in 1e-16 units (decimal 38,0); the only
      // doubles are the final sqrt closed form and display divisions.
      val loo = per
        .withColumn("n", sum("ni").over(wAll))
        .withColumn("s", sum("si").over(wAll))
        .withColumn("g", count(lit(1)).over(wAll))
        .withColumn("th8", expr(
          "(2 * CAST((s - si) * 100000000 AS DECIMAL(38,0)) + (n - ni)) " +
            "div (2 * (n - ni))"))
        .withColumn("tb8", expr(
          "(2 * sum(th8) OVER () + g) div (2 * g)"))
        .withColumn("diff8",
          (col("th8") - col("tb8")).cast(DecimalType(19, 0)))
      loo.select(col("g"), col("n"), col("s"),
          (col("diff8") * col("diff8")).as("sq16"))
        .groupBy("g", "n", "s").agg(sum("sq16").as("ssq16"))
        .select(col("g").as("n_groups"),
          round(d(col("s")) / d(col("n")), 6).as("mean_price"),
          round(sqrt((d(col("g")) - 1) / d(col("g")) *
            (col("ssq16").cast(DoubleType) / 1.0e16)), 6).as("jackknife_se"))
    }),

    // ---- generalized means ------------------------------------------------
    // Arithmetic / geometric / harmonic mean of extended price per
    // return flag — the AM ≥ GM ≥ HM ladder every pricing sanity check
    // wants. GM via exp of the 8dp-quantized decimal log-sum; HM via
    // 12dp-quantized decimal reciprocal sums (reciprocals are ~1e-5 —
    // 12dp keeps 7+ significant digits); AM is the exact decimal sum.
    "agg_power_means" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(18, 2))).as("sx"),
          sum(round(log(col("x")), 8).cast(DecimalType(18, 8))).as("slog"),
          sum(round(lit(1.0) / col("x"), 12).cast(DecimalType(18, 12))).as("srec"))
        .select(col("l_returnflag"), col("n"),
          round(d(col("sx")) / d(col("n")), 6).as("mean_arith"),
          round(exp(d(col("slog")) / d(col("n"))), 6).as("mean_geom"),
          round(d(col("n")) / d(col("srec")), 6).as("mean_harm"))
        .orderBy("l_returnflag")
    }),

    // ---- recursive CTE: bounded reachability ------------------------------
    // Spark 4.x WITH RECURSIVE over the supplier co-occurrence graph:
    // nodes reachable within 3 hops of the two lowest-id suppliers,
    // counted at their MINIMUM depth. The recursive step SELECT
    // DISTINCTs each level, so the working set is node-bounded per
    // iteration (levels never multiply into path counts) — the same
    // linear-recursion semantics DuckDB executes, verified identical.
    "sub_recursive_reach" -> ((s, dir) => {
      // r14: the symmetrized edge list is materialized ONCE (eager
      // checkpoint) before the recursive CTE — left inline, the
      // recursion re-evaluated the orders-filter + lineitem self-join
      // CTE chain on EVERY iteration (the recursive UNION ALL plans
      // each step's join against the full `ed` subtree; measured: the
      // edge build dominated all 4 iterations). Identical edge set,
      // identical recursion semantics — the oracle is untouched.
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-03-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        .select("o_orderkey")
      val li = Tables.lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
      val a = li.select(col("l_orderkey").as("k"), col("l_suppkey").as("sa"))
      val b = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sb"))
      val e = a.join(b, col("k") === col("k2") && col("sa") < col("sb"))
        .select("sa", "sb").distinct()
      val ed = graft.tools.Materialize.eager("reach.ed",
        e.select(col("sa").as("src"), col("sb").as("dst"))
          .union(e.select(col("sb").as("src"), col("sa").as("dst"))))
      ed.createOrReplaceTempView("reach_ed_v")
      s.sql("""
        |WITH RECURSIVE
        |seeds AS (SELECT DISTINCT src AS v FROM reach_ed_v ORDER BY v LIMIT 2),
        |reach(v, d) AS (
        |  SELECT v, CAST(0 AS BIGINT) FROM seeds
        |  UNION ALL
        |  SELECT DISTINCT ed.dst, r.d + 1 FROM reach r
        |  JOIN reach_ed_v ed ON r.v = ed.src WHERE r.d < 3
        |)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM (SELECT v, min(d) AS d FROM reach GROUP BY v)
        |GROUP BY d ORDER BY d""".stripMargin)
    }),

    // ---- month-over-month rank movers -------------------------------------
    // Leaderboard churn: each customer's revenue rank within their
    // order month (GlobalRank with part = month — ~80 corpus-sized
    // groups, exactly the few-group shape the kernel exists for),
    // self-joined onto the next month; the 20 largest |rank moves|.
    // Ranks and deltas are exact integers; the cut orders by
    // (|delta|, month, customer) — fully deterministic.
    "win_rank_delta" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("ym"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      // ~80 corpus-lifetime months today; 256 covers two decades of
      // growth while keeping width × groups ≤ MaxOffsetsRows (the
      // many-group part that motivated the r7-verdict product bound)
      val ranked = GlobalRank.withSeqAndCount(monthly, "rk", "__n",
        Seq("ym"), Seq(col("rev").desc, col("o_custkey").asc),
        groupsHint = 256)
      val cur = ranked.select(col("o_custkey"), col("ym"), col("rk"))
      val prev = ranked.select(col("o_custkey").as("ck2"),
        (col("ym") + 1).as("ym2"), col("rk").as("rk_prev"))
      cur.join(prev, col("o_custkey") === col("ck2") && col("ym") === col("ym2"))
        .select(col("o_custkey"), col("ym"), col("rk_prev"),
          col("rk").as("rk_cur"), (col("rk_prev") - col("rk")).as("delta"))
        .orderBy(abs(col("delta")).desc, col("ym"), col("o_custkey"))
        .limit(20)
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_jackknife_nation" -> """
      |WITH o AS (SELECT c_nationkey AS nk,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |per AS (SELECT nk, CAST(count(*) AS BIGINT) AS ni, sum(p) AS si
      |  FROM o GROUP BY nk),
      |loo AS (SELECT *,
      |    CAST(sum(ni) OVER () AS BIGINT) AS n, sum(si) OVER () AS s,
      |    CAST(count(*) OVER () AS BIGINT) AS g,
      |    (2 * CAST((sum(si) OVER () - si) * 100000000 AS HUGEINT)
      |      + (sum(ni) OVER () - ni))
      |      // (2 * (sum(ni) OVER () - ni)) AS th8
      |  FROM per),
      |lt AS (SELECT *,
      |    (2 * sum(th8) OVER () + g) // (2 * g) AS tb8
      |  FROM loo),
      |sq AS (SELECT g, n, s,
      |    (th8 - tb8) * (th8 - tb8) AS sq16
      |  FROM lt)
      |SELECT g AS n_groups,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_price,
      |  round(sqrt((CAST(g AS DOUBLE) - 1) / CAST(g AS DOUBLE)
      |    * (CAST(sum(sq16) AS DOUBLE) / 1e16)), 6) AS jackknife_se
      |FROM sq GROUP BY g, n, s""".stripMargin,

    "agg_power_means" -> """
      |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_arith,
      |  round(exp(CAST(sum(CAST(round(ln(l_extendedprice), 8) AS DECIMAL(18,8)))
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6) AS mean_geom,
      |  round(CAST(count(*) AS DOUBLE)
      |    / CAST(sum(CAST(round(1.0 / l_extendedprice, 12) AS DECIMAL(18,12)))
      |      AS DOUBLE), 6) AS mean_harm
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sub_recursive_reach" -> """
      |WITH RECURSIVE
      |o AS (SELECT o_orderkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-03-01'
      |    AND o_orderdate < TIMESTAMP '1997-04-01'),
      |li AS (SELECT l_orderkey, l_suppkey FROM lineitem
      |  JOIN o ON l_orderkey = o_orderkey),
      |e AS (SELECT DISTINCT a.l_suppkey sa, b.l_suppkey sb
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
      |ed AS (SELECT sa AS src, sb AS dst FROM e
      |  UNION ALL SELECT sb, sa FROM e),
      |seeds AS (SELECT DISTINCT src AS v FROM ed ORDER BY v LIMIT 2),
      |reach(v, d) AS (
      |  SELECT v, CAST(0 AS BIGINT) FROM seeds
      |  UNION ALL
      |  SELECT DISTINCT ed.dst, r.d + 1 FROM reach r
      |  JOIN ed ON r.v = ed.src WHERE r.d < 3
      |)
      |SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM (SELECT v, min(d) AS d FROM reach GROUP BY v)
      |GROUP BY d ORDER BY d""".stripMargin,

    "win_rank_delta" -> """
      |WITH monthly AS (SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (SELECT o_custkey, ym,
      |    CAST(row_number() OVER (PARTITION BY ym
      |      ORDER BY rev DESC, o_custkey ASC) AS BIGINT) AS rk
      |  FROM monthly)
      |SELECT c.o_custkey, c.ym, p.rk AS rk_prev, c.rk AS rk_cur,
      |  p.rk - c.rk AS delta
      |FROM ranked c JOIN ranked p
      |  ON c.o_custkey = p.o_custkey AND c.ym = p.ym + 1
      |ORDER BY abs(p.rk - c.rk) DESC, c.ym, c.o_custkey LIMIT 20""".stripMargin)
}
