package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 ninth wave: time-series and data-engineering depth — lag-2
  * partial autocorrelation, the SCD-style snapshot diff, interval-union
  * coverage (gaps-and-islands with overlap merging) and the two-sample
  * Poisson rate z-test.
  *
  * Determinism: the PACF chain is fully rational — mean-centered ×n
  * integer series, autocorrelations quantized to signed half-up 1e-8
  * integers, and the Durbin–Levinson φ22 emitted from the INTEGER
  * image (q2·R − q1²)/(R² − q1²); interval unions are exact epoch-
  * micro integers; the z statistic is one division + one √ of exact
  * integers.
  */
object Round9iQueries extends graft.QueryFamily {

  private def shu(num: String, den: String): Column = expr(
    s"CASE WHEN $num >= 0 THEN (2 * ($num) + ($den)) div (2 * ($den)) " +
      s"ELSE -((2 * (-($num)) + ($den)) div (2 * ($den))) END")

  private val shuSqlFmt =
    "(CASE WHEN %s >= 0 THEN (2 * (%s) + (%s)) // (2 * (%s)) " +
      "ELSE -((2 * (-(%s)) + (%s)) // (2 * (%s))) END)"

  private def shuSql(num: String, den: String): String =
    shuSqlFmt.format(num, num, den, den, num, den, den)

  val queries: Map[String, QFn] = Map(

    // ---- lag-2 partial autocorrelation ----------------------------------------------
    // φ11 = ρ1 and the Durbin–Levinson φ22 = (ρ2−ρ1²)/(1−ρ1²) of the
    // daily revenue series per event type. e = n·x − S keeps the
    // centering integer; ρk quantizes to a signed half-up 1e-8 int qk,
    // and φ22 = (q2·R − q1²)/(R² − q1²) stays a ratio of exact
    // integers (R = 1e8) — no float until the 6dp half-up emit.
    "agg_pacf2" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("xc").as("sx"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val dc = (c: Column) => c.cast(DecimalType(38, 0))
      daily.join(broadcast(tot), Seq("event_type"))
        .withColumn("e", col("nd") * col("xc") - col("sx"))
        .withColumn("e1", lag("e", 1).over(w))
        .withColumn("e2", lag("e", 2).over(w))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"),
          sum(dc(col("e")) * dc(col("e"))).as("den"),
          sum(when(col("e1").isNotNull, dc(col("e")) * dc(col("e1")))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("c1"),
          sum(when(col("e2").isNotNull, dc(col("e")) * dc(col("e2")))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("c2"))
        .withColumn("q1", shu("100000000 * c1", "den"))
        .withColumn("q2", shu("100000000 * c2", "den"))
        .select(col("event_type"), col("n_days"),
          (d(shu("1000000 * q1", "100000000")) / 1.0e6).as("phi11"),
          (d(shu("1000000 * (CAST(q2 AS DECIMAL(38,0)) * 100000000 " +
            "- CAST(q1 AS DECIMAL(38,0)) * q1)",
            "10000000000000000 - q1 * q1")) / 1.0e6).as("phi22"))
        .orderBy("event_type")
    }),

    // ---- SCD snapshot diff ------------------------------------------------------------
    // Per-customer (order count, revenue) snapshots of 1997-H1 vs
    // 1997-H2, full-outer-diffed into added / removed / changed /
    // unchanged counts — the table-diff primitive behind incremental
    // loads. One full-outer join on the snapshot key.
    "join_snapshot_diff" -> ((s, dir) => {
      def snap(lo: String, hi: String) = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit(lo + " 00:00:00").cast("timestamp")
          && col("o_orderdate") < lit(hi + " 00:00:00").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("totc"))
      val a = snap("1997-01-01", "1997-07-01")
        .select(col("o_custkey"), col("n_orders").as("na"), col("totc").as("ta"))
      val b = snap("1997-07-01", "1998-01-01")
        .select(col("o_custkey"), col("n_orders").as("nb"), col("totc").as("tb"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(when(col("na").isNull, "added")
          .when(col("nb").isNull, "removed")
          .when(col("na") === col("nb") && col("ta") === col("tb"), "unchanged")
          .otherwise("changed").as("change_type"))
        .groupBy("change_type").agg(count(lit(1)).as("n_customers"))
        .orderBy("change_type")
    }),

    // ---- interval-union coverage --------------------------------------------------------
    // Total time covered per event type when every event opens a
    // 30-minute interval — gaps-and-islands with OVERLAP MERGING (a
    // new island starts only when the start exceeds the running max
    // of prior ends). Exact epoch-micro integers throughout.
    "win_interval_union" -> ((s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp_ltz))").as("tus"))
        .withColumn("en", col("tus") + lit(1800000000L))
      // both per-type prefix scans (exclusive running max of the
      // interval end, inclusive running count of island-opening rows)
      // ride GlobalRank's fused gaps-and-islands pass (5 corpus-scaled
      // groups; ONE range materialization), not 5-task windows
      GlobalRank.withIslandSeq(iv, col("tus"), col("en"), "pmax", "isl",
          Seq(col("tus").asc, col("event_id").asc),
          part = Seq("event_type"), groupsHint = 5)
        .groupBy("event_type", "isl")
        .agg(count(lit(1)).as("ne"), min("tus").as("st"), max("en").as("en"))
        .groupBy("event_type")
        .agg(sum("ne").cast("long").as("n_events"),
          count(lit(1)).as("n_islands"),
          sum(col("en") - col("st")).cast("long").as("covered_us"))
        .select(col("event_type"), col("n_events"), col("n_islands"),
          col("covered_us"),
          (d(col("covered_us")) / 6.0e7).as("covered_minutes"))
        .orderBy("event_type")
    }),

    // ---- two-sample Poisson rate z-test ---------------------------------------------------
    // For every event-type pair (equal exposure windows): the
    // conditional z = (k₁−k₂)/√(k₁+k₂) and the rate ratio — which
    // event streams differ in intensity. Catalog-bounded pair table.
    "agg_poisson_ztest" -> ((s, dir) => {
      val k = Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("k"))
      val b = k.select(col("event_type").as("type_b"), col("k").as("kb"))
      k.select(col("event_type").as("type_a"), col("k").as("ka"))
        .join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("ka"), col("kb"),
          round(d(col("ka") - col("kb")) / sqrt(d(col("ka") + col("kb"))), 4)
            .as("z"),
          round(d(col("ka")) / d(col("kb")), 6).as("rate_ratio"))
        .orderBy("type_a", "type_b")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_pacf2" -> s"""
      |WITH $dailyCentiSql,
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(xc) AS BIGINT) AS sx
      |  FROM daily GROUP BY 1),
      |e AS (SELECT d.event_type,
      |    CAST(t.nd * d.xc - t.sx AS HUGEINT) AS e,
      |    CAST(lag(t.nd * d.xc - t.sx, 1) OVER w AS HUGEINT) AS e1,
      |    CAST(lag(t.nd * d.xc - t.sx, 2) OVER w AS HUGEINT) AS e2,
      |    t.nd
      |  FROM daily d JOIN tot t ON d.event_type = t.event_type
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)),
      |g AS (SELECT event_type, max(nd) AS n_days,
      |    sum(e * e) AS den,
      |    sum(CASE WHEN e1 IS NOT NULL THEN e * e1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN e2 IS NOT NULL THEN e * e2 ELSE 0 END) AS c2
      |  FROM e GROUP BY 1),
      |q AS (SELECT event_type, n_days,
      |    ${shuSql("100000000 * c1", "den")} AS q1,
      |    ${shuSql("100000000 * c2", "den")} AS q2
      |  FROM g)
      |SELECT event_type, n_days,
      |  CAST(${shuSql("1000000 * q1", "100000000")} AS DOUBLE) / 1e6
      |    AS phi11,
      |  CAST(${shuSql("1000000 * (q2 * 100000000 - q1 * q1)",
        "10000000000000000 - q1 * q1")} AS DOUBLE) / 1e6 AS phi22
      |FROM q ORDER BY event_type""".stripMargin,

    "join_snapshot_diff" -> """
      |WITH a AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS na,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS ta
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-07-01'
      |  GROUP BY 1),
      |b AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS nb,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS tb
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1),
      |f AS (SELECT CASE WHEN a.na IS NULL THEN 'added'
      |    WHEN b.nb IS NULL THEN 'removed'
      |    WHEN a.na = b.nb AND a.ta = b.tb THEN 'unchanged'
      |    ELSE 'changed' END AS change_type
      |  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
      |SELECT change_type, CAST(count(*) AS BIGINT) AS n_customers
      |FROM f GROUP BY 1 ORDER BY change_type""".stripMargin,

    "win_interval_union" -> """
      |WITH iv AS (SELECT event_type, event_id,
      |    epoch_us(ts) AS tus, epoch_us(ts) + 1800000000 AS en
      |  FROM events),
      |m AS (SELECT event_type, event_id, tus, en,
      |    max(en) OVER (PARTITION BY event_type ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |br AS (SELECT event_type, event_id, tus, en,
      |    CASE WHEN pmax IS NULL OR tus > pmax THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |isl AS (SELECT event_type, tus, en,
      |    sum(brk) OVER (PARTITION BY event_type ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM br),
      |per AS (SELECT event_type, isl, CAST(count(*) AS BIGINT) AS ne,
      |    min(tus) AS st, max(en) AS en
      |  FROM isl GROUP BY 1, 2)
      |SELECT event_type, CAST(sum(ne) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(en - st) AS BIGINT) AS covered_us,
      |  CAST(CAST(sum(en - st) AS BIGINT) AS DOUBLE) / 6e7
      |    AS covered_minutes
      |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_poisson_ztest" -> """
      |WITH k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k
      |  FROM events GROUP BY 1)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  a.k AS ka, b.k AS kb,
      |  round(CAST(a.k - b.k AS DOUBLE)
      |    / sqrt(CAST(a.k + b.k AS DOUBLE)), 4) AS z,
      |  round(CAST(a.k AS DOUBLE) / CAST(b.k AS DOUBLE), 6) AS rate_ratio
      |FROM k a JOIN k b ON a.event_type < b.event_type
      |ORDER BY type_a, type_b""".stripMargin)
}
