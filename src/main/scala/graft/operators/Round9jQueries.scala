package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 tenth wave: positional token bias (boilerplate detector),
  * cross-source duplicate leakage, daily log-return volatility and the
  * quadrant-count robust correlation.
  *
  * Determinism: positional buckets are integer (3·pos div len); dup
  * clusters key on md5(text); each log return is quantized to an
  * 8dp decimal BEFORE summing (the established quantized-ln idiom —
  * exact order-free moment sums, libm drift bounded below the 8th
  * decimal); the quadrant correlation is pure sign counts around
  * discrete-rank medians.
  */
object Round9jQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- positional token bias -----------------------------------------------------
    // Where do the corpus's top-5 tokens sit inside documents? Share
    // of each doc-third (start/middle/end) owned by each top token —
    // boilerplate headers/footers show up as start/end spikes.
    "llm_positional_bias" -> ((s, dir) => {
      // (tok, doc-third) counts roll up from the shared unigram ledger
      // (r10 verdict item 6): the `bucket` key is part of the ledger's
      // grain precisely for this profile, so the query is vocab-scale
      // arithmetic — no fresh corpus tokenize+shuffle
      val g = graft.tools.TokenArtifacts.unigram(s, dir)
        .groupBy("tok", "bucket").agg(sum("cnt").as("n"))
      val top5 = g.groupBy("tok").agg(sum("n").cast("long").as("nt"))
        .orderBy(col("nt").desc, col("tok").asc).limit(5)
        .select("tok")
      val bucketTotals = g.groupBy("bucket")
        .agg(sum("n").cast("long").as("nb"))
      g.join(broadcast(top5), Seq("tok"))
        .join(broadcast(bucketTotals), Seq("bucket"))
        .select(col("tok"), col("bucket"), col("n"),
          round(d(col("n")) / d(col("nb")), 6).as("bucket_share"))
        .orderBy("tok", "bucket")
    }),

    // ---- cross-source duplicate leakage ----------------------------------------------
    // Of the shared-20-token-prefix clusters (the boilerplate
    // fingerprint — exact text dups are vacuous at small SFs), how
    // many span ≥2 sources — the provenance-leakage signal that
    // decides whether dedup must run globally or can shard by source.
    // One fingerprint-keyed shuffle.
    "llm_dedup_cross_source" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(md5(array_join(slice(
          toks, 1, 20), " "))
          .as("h"), col("source"))
        .groupBy("h")
        .agg(count(lit(1)).as("sz"), countDistinct("source").as("ns"))
        .where(col("sz") >= 2)
        .agg(count(lit(1)).as("n_dup_clusters"),
          count_if(col("ns") >= 2).as("n_cross_source"),
          sum(when(col("ns") >= 2, col("sz")).otherwise(lit(0L)))
            .cast("long").as("n_docs_cross"))
        .select(col("n_dup_clusters"), col("n_cross_source"),
          col("n_docs_cross"),
          when(col("n_dup_clusters") > 0,
            round(d(col("n_cross_source")) / d(col("n_dup_clusters")), 6))
            .as("cross_share"))),

    // ---- daily log-return volatility ----------------------------------------------------
    // Mean and stddev of ln(cₜ/cₜ₋₁) on daily closes per event type —
    // the finance-standard return/vol pair. Each return quantized to
    // an 8dp decimal before the exact order-free moment sums.
    "agg_log_return_vol" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      dailyBars(s, dir)
        .withColumn("pc", lag("cc", 1).over(w))
        .where(col("pc").isNotNull)
        .withColumn("lr8",
          round(log(d(col("cc")) / d(col("pc"))), 8)
            .cast(DecimalType(18, 8)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("lr8").as("s1"),
          sum(col("lr8") * col("lr8")).as("s2"))
        .select(col("event_type"), col("n"),
          round(d(col("s1")) / d(col("n")), 6).as("mean_lr"),
          round(sqrt((d(col("n")) * d(col("s2")) - d(col("s1")) * d(col("s1")))
            / (d(col("n")) * (d(col("n")) - lit(1.0)))), 4).as("vol"))
        .orderBy("event_type")
    }),

    // ---- quadrant-count correlation ------------------------------------------------------
    // Sign-based robust correlation of (quantity, price) per return
    // flag: points classified by quadrant around the discrete-rank
    // medians, QCC = (n_conc − n_disc)/(n_conc + n_disc) — outlier-
    // immune, exact integer counts.
    "agg_quadrant_corr" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("x"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("y"))
      // raw lineitem through a 3-group window would pin parallelism at
      // 3 single-task partitions, so each axis takes the cheapest
      // scale-safe path its VALUE DOMAIN allows (r11; the r10 form ran
      // both axes through one distinct-value ledger, but the y axis is
      // NEAR-UNIQUE — 594k distinct centi prices in 600k rows at
      // sf0.1 — so the ledger compressed nothing there and its
      // fact-sized hash aggregation was the plan's real cost):
      //
      // x (quantity, ≤50 distinct per flag): a map-side-combined
      // 150-row ledger, running counts via a bounded broadcast
      // self-join (xb <= x) — no window, no checkpoint, no rank pass.
      val lx = li.groupBy("flag", "x").agg(count(lit(1)).as("cnt"))
      // The broadcast self-join below is O(d^2) rows per flag — safe
      // ONLY because quantity's domain is catalog-tiny (<=50 values per
      // flag). boundedLedgerGuard enforces that assumption at runtime
      // (r11 ADVICE): the count window runs over the AGGREGATED ledger
      // (a bounded intermediate, the class PlanGuard permits) and the
      // guard rides the load-bearing count column, so a wider domain
      // fails at broadcast-build time instead of inflating the join
      // (negative path spec-tested in QueryUtilsSpec).
      val lb = lx.select(col("flag").as("fb"), col("x").as("xb"),
        boundedLedgerGuard(col("cnt"), 500,
          "agg_quadrant_corr x ledger").as("cb"))
      val cum = lx.select("flag", "x")
        .join(broadcast(lb), col("flag") === col("fb") && col("xb") <= col("x"))
        .groupBy("flag", "x").agg(sum("cb").as("hi"))
      val nn = cum.groupBy(col("flag").as("fn")).agg(max("hi").as("nn"))
      val xmed = cum.join(broadcast(nn), col("flag") === col("fn"))
        .groupBy("flag")
        .agg(min(when(col("hi") >= expr("(nn + 1) DIV 2"), col("x")))
          .as("mx"))
      // y (centi price, near-unique): rank the fact rows DIRECTLY with
      // GlobalRank (the line's unique key totalizes the order) and
      // pick the value at rank (nn+1) DIV 2 — the low median,
      // tie-permutation-invariant since rows straddling the rank share
      // the value. One range shuffle + one eager checkpoint; the
      // withSeqAndCount stream side is broadcast-join-only (no pid
      // reshuffle, no window), and no fact-sized hash map anywhere.
      val ymed = GlobalRank.withSeqAndCount(
          li.select(col("flag"), col("l_orderkey"), col("l_linenumber"),
            col("y")),
          "rn", "ny", Seq("flag"),
          Seq(col("y").asc, col("l_orderkey").asc, col("l_linenumber").asc),
          groupsHint = 3)
        .where(col("rn") === expr("(ny + 1) DIV 2"))
        .select(col("flag").as("fy"), col("y").as("my"))
      li.join(broadcast(xmed), Seq("flag"))
        .join(broadcast(ymed), col("flag") === col("fy"))
        .where(col("x") =!= col("mx") && col("y") =!= col("my"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          count_if((col("x") > col("mx")) === (col("y") > col("my")))
            .as("nc"))
        .select(col("flag"), col("n"), col("nc"),
          (col("n") - col("nc")).as("nd"),
          round(d(lit(2) * col("nc") - col("n")) / d(col("n")), 6)
            .as("qcc"))
        .orderBy("flag")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_positional_bias" -> """
      |WITH toks AS (SELECT unnest(tk) AS tok,
      |    unnest(range(len(tk))) AS pos, len(tk) AS len
      |  FROM (SELECT list_filter(string_split(text, ' '),
      |      x -> x <> '') AS tk FROM documents) t),
      |b AS (SELECT tok, (3 * pos) // len AS bucket FROM toks),
      |top5 AS (SELECT tok FROM (
      |    SELECT tok, count(*) AS nt FROM b GROUP BY 1
      |    ORDER BY nt DESC, tok LIMIT 5) x),
      |bt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb
      |  FROM b GROUP BY 1),
      |g AS (SELECT b.tok, b.bucket, CAST(count(*) AS BIGINT) AS n
      |  FROM b JOIN top5 ON b.tok = top5.tok GROUP BY 1, 2)
      |SELECT g.tok, CAST(g.bucket AS BIGINT) AS bucket, g.n,
      |  round(CAST(g.n AS DOUBLE) / CAST(bt.nb AS DOUBLE), 6)
      |    AS bucket_share
      |FROM g JOIN bt ON g.bucket = bt.bucket
      |ORDER BY tok, bucket""".stripMargin,

    "llm_dedup_cross_source" -> """
      |WITH c AS (SELECT
      |    md5(list_aggregate(list_filter(string_split(text, ' '),
      |      x -> x <> '')[1:20], 'string_agg', ' ')) AS h,
      |    CAST(count(*) AS BIGINT) AS sz,
      |    CAST(count(DISTINCT source) AS BIGINT) AS ns
      |  FROM documents GROUP BY 1 HAVING count(*) >= 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_dup_clusters,
      |  CAST(count(*) FILTER (ns >= 2) AS BIGINT) AS n_cross_source,
      |  CAST(coalesce(sum(CASE WHEN ns >= 2 THEN sz ELSE 0 END), 0)
      |    AS BIGINT) AS n_docs_cross,
      |  CASE WHEN count(*) > 0 THEN
      |    round(CAST(count(*) FILTER (ns >= 2) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE), 6) END AS cross_share
      |FROM c""".stripMargin,

    "agg_log_return_vol" -> s"""
      |WITH $dailyBarsSql,
      |r AS (SELECT event_type,
      |    CAST(round(ln(CAST(cc AS DOUBLE) / CAST(pc AS DOUBLE)), 8)
      |      AS DECIMAL(18,8)) AS lr8
      |  FROM (SELECT event_type, cc, lag(cc, 1) OVER (
      |      PARTITION BY event_type ORDER BY day) AS pc
      |    FROM bars) x
      |  WHERE pc IS NOT NULL),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(lr8) AS s1, sum(lr8 * lr8) AS s2
      |  FROM r GROUP BY 1)
      |SELECT event_type, n,
      |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_lr,
      |  round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 4) AS vol
      |FROM g ORDER BY event_type""".stripMargin,

    "agg_quadrant_corr" -> """
      |WITH li AS (SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
      |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0))::BIGINT AS y
      |  FROM lineitem),
      |mx AS (SELECT flag, max(CASE WHEN rn = (nn + 1) // 2 THEN x END)
      |    AS mx
      |  FROM (SELECT flag, x,
      |      CAST(row_number() OVER (PARTITION BY flag
      |        ORDER BY x, l_orderkey, l_linenumber) AS BIGINT) AS rn,
      |      CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS nn
      |    FROM li) a
      |  GROUP BY 1),
      |my AS (SELECT flag, max(CASE WHEN rn = (nn + 1) // 2 THEN y END)
      |    AS my
      |  FROM (SELECT flag, y,
      |      CAST(row_number() OVER (PARTITION BY flag
      |        ORDER BY y, l_orderkey, l_linenumber) AS BIGINT) AS rn,
      |      CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS nn
      |    FROM li) a
      |  GROUP BY 1),
      |q AS (SELECT li.flag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER ((li.x > mx.mx) = (li.y > my.my))
      |      AS BIGINT) AS nc
      |  FROM li JOIN mx ON li.flag = mx.flag
      |    JOIN my ON li.flag = my.flag
      |  WHERE li.x <> mx.mx AND li.y <> my.my
      |  GROUP BY 1)
      |SELECT flag, n, nc, n - nc AS nd,
      |  round(CAST(2 * nc - n AS DOUBLE) / CAST(n AS DOUBLE), 6) AS qcc
      |FROM q ORDER BY flag""".stripMargin)
}
