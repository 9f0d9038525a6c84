package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 thirteenth wave: quoted-CSV roundtrip (embedded delimiters,
  * quotes and newlines), the Ichimoku window system, the train-split
  * sample-ratio-mismatch χ² and the outer positional explode.
  *
  * Determinism: the CSV roundtrip is engine-internal (write+read on
  * Spark) against a straight-from-parquet oracle, so the quoting path
  * itself is what is under test; Ichimoku lines are half-up integer
  * midpoints of rolling integer extremes; the SRM χ² clears the 90/5/5
  * rational expectations into ONE exact integer numerator over 9000·n.
  */
object Round9mQueries extends graft.QueryFamily {

  /** Deliberately hostile CSV content: comma, quote, newline. */
  private def tricky: Column =
    concat(col("p_name"), lit(", \""), col("p_brand"), lit("\"\nL2"))

  val queries: Map[String, QFn] = Map(

    // ---- quoted-CSV roundtrip -----------------------------------------------------
    // Strings carrying the delimiter, the quote char AND a newline
    // survive a CSV write+multiLine read — the quoting/escaping path
    // source_csv_roundtrip never exercises. Oracle replays the
    // construction straight from parquet. The price is written/read
    // as decimal(18,2) text (the codec under test) but EMITTED as an
    // exact centi long — r9's driver run proved decimal output
    // columns hash differently at the driver even when every cell is
    // exact (QueriesSpec "output dtype envelope" gates the class).
    "source_csv_quoted" -> ((s, dir) => {
      val path = graft.tools.Scratch.dir(s, "csvq", dir)
      Tables.part(s, dir)
        .select(col("p_partkey"), tricky.as("tricky"),
          col("p_retailprice").cast(DecimalType(18, 2)).as("price"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").option("multiLine", "true")
        .schema("p_partkey long, tricky string, price decimal(18,2)")
        .csv(path)
        .select(col("p_partkey"), col("tricky"),
          (col("price") * 100).cast("long").as("price_c"))
        .orderBy("p_partkey")
    }),

    // ---- Ichimoku system (9/17, shift 8) ---------------------------------------------
    // Tenkan (9-day midpoint), Kijun (17-day midpoint), Senkou A (their
    // midpoint from 8 days ago) and Chikou (close 8 days ahead,
    // nullable at the tail) per event type — all half-up integer
    // midpoints of rolling integer extremes, exact centi.
    "win_ichimoku" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w9 = w.rowsBetween(-8, Window.currentRow)
      val w17 = w.rowsBetween(-16, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("tk2", max("hc").over(w9) + min("lc").over(w9))
        .withColumn("kj2", max("hc").over(w17) + min("lc").over(w17))
        .withColumn("tenkan", expr("(2 * tk2 + 2) div 4"))
        .withColumn("kijun", expr("(2 * kj2 + 2) div 4"))
        .withColumn("sa", lag(expr("(2 * (tenkan + kijun) + 2) div 4"), 8)
          .over(w))
        .withColumn("chikou", lead("cc", 8).over(w))
        .where(col("rn") >= 25)
        .select(col("event_type"), col("day"),
          (d(col("tenkan")) / 100.0).as("tenkan"),
          (d(col("kijun")) / 100.0).as("kijun"),
          (d(col("sa")) / 100.0).as("senkou_a"),
          (d(col("chikou")) / 100.0).as("chikou"))
        .orderBy("event_type", "day")
    }),

    // ---- sample-ratio-mismatch check ---------------------------------------------------
    // χ² of the observed md5 train/valid/test split against the exact
    // 90/5/5 expectation: with d_w = 100·o_w − n·w, χ² =
    // (d₉₀² + 18·d₅ᵥ² + 18·d₅ₜ²)/(9000·n) — one exact integer
    // numerator, one half-up 6dp division. df = 2.
    "agg_srm_check" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select((hash60(col("doc_id").cast("string")) % 100).as("bucket"))
        .agg(count(lit(1)).as("n"),
          count_if(col("bucket") < 90).as("n_train"),
          count_if(col("bucket") >= 90 && col("bucket") < 95).as("n_valid"),
          count_if(col("bucket") >= 95).as("n_test"))
        .withColumn("d90",
          (lit(100) * col("n_train") - lit(90) * col("n"))
            .cast(DecimalType(38, 0)))
        .withColumn("d5v",
          (lit(100) * col("n_valid") - lit(5) * col("n"))
            .cast(DecimalType(38, 0)))
        .withColumn("d5t",
          (lit(100) * col("n_test") - lit(5) * col("n"))
            .cast(DecimalType(38, 0)))
        .select(col("n").as("n_docs"), col("n_train"), col("n_valid"),
          col("n_test"),
          (d(expr("(2 * 1000000 * (d90 * d90 + 18 * d5v * d5v " +
            "+ 18 * d5t * d5t) + 9000 * n) div (2 * 9000 * n)"))
            / 1.0e6).as("chi2"))),

    // ---- outer positional explode --------------------------------------------------------
    // posexplode_outer keeps rows whose array is NULL (short names
    // produce no tokens) with NULL pos/token — the outer variant of
    // gen_posexplode. Oracle replays via a NULL-row union.
    "gen_posexplode_outer" -> ((s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"),
          when(size(split(col("p_name"), " ")) >= 4,
            split(col("p_name"), " ")).as("toks"))
        .select(col("p_partkey"),
          posexplode_outer(col("toks")).as(Seq("pos", "tok")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"),
          col("tok"))
        // pin NULL ordering: Spark ASC is NULLS FIRST, DuckDB's is
        // NULLS LAST — make both explicit-first
        .orderBy(col("p_partkey"), col("pos").asc_nulls_first)))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "source_csv_quoted" -> """
      |SELECT p_partkey,
      |  p_name || ', "' || p_brand || '"' || chr(10) || 'L2' AS tricky,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS price_c
      |FROM part ORDER BY p_partkey""".stripMargin,

    "win_ichimoku" -> s"""
      |WITH $dailyBarsSql,
      |l AS (SELECT event_type, day, cc,
      |    row_number() OVER w AS rn,
      |    (2 * (max(hc) OVER w9 + min(lc) OVER w9) + 2) // 4 AS tenkan,
      |    (2 * (max(hc) OVER w17 + min(lc) OVER w17) + 2) // 4 AS kijun
      |  FROM bars
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
      |    w9 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
      |    w17 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 16 PRECEDING AND CURRENT ROW)),
      |m AS (SELECT event_type, day, rn, tenkan, kijun,
      |    lag((2 * (tenkan + kijun) + 2) // 4, 8) OVER w AS sa,
      |    lead(cc, 8) OVER w AS chikou
      |  FROM l WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, day,
      |  CAST(tenkan AS DOUBLE) / 100.0 AS tenkan,
      |  CAST(kijun AS DOUBLE) / 100.0 AS kijun,
      |  CAST(sa AS DOUBLE) / 100.0 AS senkou_a,
      |  CAST(chikou AS DOUBLE) / 100.0 AS chikou
      |FROM m WHERE rn >= 25 ORDER BY event_type, day""".stripMargin,

    "agg_srm_check" -> s"""
      |WITH b AS (SELECT ${hash60Sql("doc_id")} % 100 AS bucket
      |  FROM documents),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (bucket < 90) AS BIGINT) AS n_train,
      |    CAST(count(*) FILTER (bucket >= 90 AND bucket < 95) AS BIGINT)
      |      AS n_valid,
      |    CAST(count(*) FILTER (bucket >= 95) AS BIGINT) AS n_test
      |  FROM b),
      |x AS (SELECT *,
      |    CAST(100 * n_train - 90 * n AS HUGEINT) AS d90,
      |    CAST(100 * n_valid - 5 * n AS HUGEINT) AS d5v,
      |    CAST(100 * n_test - 5 * n AS HUGEINT) AS d5t
      |  FROM g)
      |SELECT n AS n_docs, n_train, n_valid, n_test,
      |  CAST((2 * 1000000 * (d90 * d90 + 18 * d5v * d5v
      |      + 18 * d5t * d5t) + 9000 * n) // (2 * 9000 * CAST(n AS HUGEINT))
      |    AS DOUBLE) / 1e6 AS chi2
      |FROM x""".stripMargin,

    "gen_posexplode_outer" -> """
      |WITH p AS (SELECT p_partkey,
      |    CASE WHEN len(string_split(p_name, ' ')) >= 4
      |      THEN string_split(p_name, ' ') END AS toks
      |  FROM part),
      |ex AS (SELECT p_partkey,
      |    CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
      |    unnest(toks) AS tok
      |  FROM p WHERE toks IS NOT NULL
      |  UNION ALL
      |  SELECT p_partkey, NULL AS pos, NULL AS tok
      |  FROM p WHERE toks IS NULL)
      |SELECT p_partkey, pos, tok FROM ex
      |ORDER BY p_partkey, pos NULLS FIRST""".stripMargin)
}
