package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N (continued) — SQL-surface additions: struct construction /
  * field access / tuple comparison, error-tolerant `try_*` arithmetic
  * (the ANSI-safe path every ingest pipeline needs for dirty data),
  * the `inline` struct-array generator, and CSV/JSON source round
  * trips that put the non-parquet readers under the driver's oracle
  * (round 1 covered them in unit tests only).
  *
  * The round trips intentionally route through a real write+read of the
  * target format — the query IS the reader path. `coalesce(1)` is for
  * the deterministic single-file fixture only; at cluster scale the same
  * reader ingests a many-file directory unchanged (Spark's CSV/JSON
  * sources are splittable per-file and schema-explicit here, so no
  * inference scan).
  */
object SurfaceQueries extends graft.QueryFamily {

  /** Per-sfdir, app-id-salted scratch dir for format round trips
    * (shared scheme, see graft.tools.Scratch). */
  private def scratch(s: SparkSession, kind: String, dir: String): String =
    graft.tools.Scratch.dir(s, kind, dir)

  val queries: Map[String, QFn] = Map(
    // ---- struct build / field access / tuple comparison ----------------
    "fn_struct" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("st", struct(
          col("o_orderstatus").as("status"), col("o_totalprice").as("price")))
        // tuple (lexicographic) comparison both as a filter and a column
        .where(struct(col("o_totalprice"), col("o_orderkey"))
          > struct(lit(300000.0), lit(0L)))
        .select(
          col("o_orderkey"),
          col("st.status").as("st_status"),
          col("st.price").as("st_price"),
          (struct(col("o_totalprice"), col("o_orderkey"))
            > struct(lit(400000.0), lit(1000L))).as("above_mark"))
        .orderBy("o_orderkey")
    }),

    // ---- error-tolerant try_* arithmetic --------------------------------
    "fn_try_arith" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          // NULL where the divisor lands on 0 (orderkey ≡ 0 mod 3)
          try_divide(col("o_totalprice"), pmod(col("o_orderkey"), lit(3))).as("tdiv"),
          // '1-URGENT' as a whole is not a number → NULL
          expr("try_cast(o_orderpriority AS INT)").as("pr_whole"),
          // but its first dash-field is
          expr("try_cast(element_at(split(o_orderpriority, '-'), 1) AS INT)").as("pr_num"),
          // out-of-range list index → NULL, not an error
          try_element_at(split(col("o_orderpriority"), "-"), lit(5)).as("oob"))
        .orderBy("o_orderkey")
    }),

    // ---- inline struct-array generator ----------------------------------
    "gen_inline" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          inline(array(
            struct(lit("price").as("kind"), col("o_totalprice").as("val")),
            struct(lit("key2x").as("kind"),
              (col("o_orderkey") * 2).cast("double").as("val")))))
        .orderBy("o_orderkey", "kind")
    }),

    // ---- CSV source round trip ------------------------------------------
    "source_csv_roundtrip" -> ((s, dir) => {
      val out = scratch(s, "csv", dir)
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read
        .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
        .option("header", "true").csv(out)
        .orderBy("c_custkey")
    }),

    // ---- JSON source round trip -------------------------------------------
    "source_json_roundtrip" -> ((s, dir) => {
      val out = scratch(s, "json", dir)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .coalesce(1)
        .write.mode("overwrite").json(out)
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .json(out)
        .orderBy("o_orderkey")
    }),

    // ---- ORC source round trip ------------------------------------------
    "source_orc_roundtrip" -> ((s, dir) => {
      val out = scratch(s, "orc", dir)
      Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .coalesce(1)
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("n_nationkey")
    }),

    // ---- bucketed co-located fact-fact join -----------------------------
    // Both fact tables are written bucketed+sorted on the join key (8
    // buckets) and re-read through the catalog: the sort-merge join then
    // plans with ZERO exchanges on either side — bucket layout replaces
    // the shuffle — and the follow-up per-orderkey aggregation reuses
    // the same bucketed distribution (no exchange there either; the
    // only exchange in the whole plan is the final presentation sort).
    // This is the production shape for repeated large-fact joins at
    // 100 TB: pay the shuffle once at write time, join for free forever
    // after. The `merge` hint pins SMJ so the demo does not silently
    // degrade to a broadcast join at toy scale. Plan asserted in
    // BucketedJoinSpec; results oracle-checked like any query.
    "join_bucketed" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (tl, to) = (s"li_bkt_$tag", s"ord_bkt_$tag")
      // r14: repartition on the bucket key before the bucketed write —
      // Spark's bucket id is pmod(murmur3, 8), the same function
      // repartition(8, key) hash-partitions by, so each of the 8 write
      // tasks holds exactly one bucket and writes exactly one sorted
      // file. The old form wrote from the scan's task layout (ONE task
      // at this file size — a single-threaded sort+write of the whole
      // fact), and at any layout writes tasks×buckets files. This IS
      // the "pay the shuffle once at write time" the demo documents,
      // now paid in parallel; the join side still plans zero exchanges
      // (BucketedJoinSpec) and the query output is unchanged.
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .option("path", scratch(s, "bktli", dir))
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tl)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .option("path", scratch(s, "bktord", dir))
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(to)
      s.table(tl).hint("merge")
        .join(s.table(to), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderkey")
    }))

  val oracles: Map[String, String] = Map(
    "fn_struct" ->
      """SELECT o_orderkey,
        |  o_orderstatus AS st_status,
        |  o_totalprice AS st_price,
        |  (o_totalprice, o_orderkey) > (400000.0, 1000) AS above_mark
        |FROM orders
        |WHERE (o_totalprice, o_orderkey) > (300000.0, 0)
        |ORDER BY o_orderkey""".stripMargin,

    "fn_try_arith" ->
      """SELECT o_orderkey,
        |  o_totalprice / (o_orderkey % 3) AS tdiv,
        |  TRY_CAST(o_orderpriority AS INT) AS pr_whole,
        |  TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) AS pr_num,
        |  string_split(o_orderpriority, '-')[5] AS oob
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "gen_inline" ->
      """SELECT o_orderkey, u.kind AS kind, u.val AS val
        |FROM (SELECT o_orderkey,
        |        unnest([{'kind': 'price', 'val': o_totalprice},
        |                {'kind': 'key2x', 'val': CAST(o_orderkey * 2 AS DOUBLE)}]) AS u
        |      FROM orders)
        |ORDER BY o_orderkey, kind""".stripMargin,

    // the oracle reads the canonical parquet — equality proves the CSV/JSON
    // reader reproduced it losslessly
    "source_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "source_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    // the oracle joins the canonical parquet directly — equality proves
    // the bucketed write+read layout preserved every row
    "join_bucketed" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY o_orderkey""".stripMargin)
}
