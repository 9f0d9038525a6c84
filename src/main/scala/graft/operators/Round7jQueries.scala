package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 tenth wave: the Chow structural-break F-test, the
  * Wald–Wolfowitz runs test, per-token burstiness (variance-to-mean
  * over the whole corpus including zero counts), and Simpson/Shannon
  * source-diversity indices.
  *
  * Same exact-integer discipline: regression/run/confusion inputs are
  * centi/micro-unit longs or plain counts; the only cross-row float
  * sum (Shannon terms) is 8dp-quantized and extracted back to an
  * integer unit sum; closed forms are single fixed-order expressions.
  */
object Round7jQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Chow structural-break test ---------------------------------------
    // Did the spend-vs-day regression change between the first and
    // second half of the month? F = ((SSR_p − SSR₁ − SSR₂)/2) /
    // ((SSR₁+SSR₂)/(n−4)) — the parametric complement of Pettitt's
    // rank test at a KNOWN break (day 15). All six regression moments
    // per segment are exact centi-integer sums gathered in ONE
    // conditional aggregate (no second scan, no join); each SSR is a
    // fixed-order closed form.
    "agg_chow_test" -> ((s, dir) => {
      val dy = dailyCenti(s, dir).withColumn("h", (col("day") > 15).cast("int"))
      def seg(pred: Column, tag: String) = Seq(
        count_if(pred).as(s"n$tag"),
        sum(when(pred, col("day"))).as(s"sx$tag"),
        sum(when(pred, col("xc"))).as(s"sy$tag"),
        sum(when(pred, col("day") * col("day"))).as(s"sxx$tag"),
        sum(when(pred, col("day") * col("xc"))).as(s"sxy$tag"),
        sum(when(pred, col("xc") * col("xc"))).as(s"syy$tag"))
      val aggs = seg(col("h") === 0, "1") ++ seg(col("h") === 1, "2") ++
        seg(lit(true), "p")
      val g = dy.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      def ssr(tag: String): Column = {
        val n = d(col(s"n$tag")); val sx = d(col(s"sx$tag"))
        val sy = d(col(s"sy$tag")); val sxx = d(col(s"sxx$tag"))
        val sxy = d(col(s"sxy$tag")); val syy = d(col(s"syy$tag"))
        (syy - sy * sy / n) -
          (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n)
      }
      g.select(col("event_type"), col("n1"), col("n2"),
          round(((ssr("p") - ssr("1") - ssr("2")) / 2.0) /
            ((ssr("1") + ssr("2")) / (d(col("n1") + col("n2")) - 4.0)), 4)
            .as("f_stat"))
        .orderBy("event_type")
    }),

    // ---- Wald–Wolfowitz runs test -----------------------------------------
    // Is the daily spend series random around its median, or does it
    // cluster? Days exactly AT the exact discrete median (2x = med2)
    // drop; runs count via one lag compare over the filtered series;
    // z from the classic closed form on exact integer n1/n2/R.
    "agg_runs_test" -> ((s, dir) => {
      val base = dailyMicro(s, dir)
      val wp = Window.partitionBy("event_type")
      val med = base
        .withColumn("rn", row_number().over(wp.orderBy("xu", "day")))
        .withColumn("np", count(lit(1)).over(wp))
        .where(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("np div 2 + 1"))
        .groupBy(col("event_type").as("k"))
        .agg(sum("xu").as("s"), count(lit(1)).as("c"))
        .select(col("k"),
          when(col("c") === 1, col("s") * 2).otherwise(col("s")).as("med2"))
      val f = base.join(broadcast(med), col("event_type") === col("k"))
        .where(col("xu") * 2 =!= col("med2"))
        .withColumn("ab", (col("xu") * 2 > col("med2")).cast("long"))
      val wo = Window.partitionBy("event_type").orderBy("day")
      val g = f.withColumn("chg",
          when(lag("ab", 1).over(wo).isNull, 1L)
            .when(lag("ab", 1).over(wo) =!= col("ab"), 1L).otherwise(0L))
        .groupBy("event_type")
        .agg(sum("ab").as("n1"), count_if(col("ab") === 0).as("n2"),
          sum("chg").as("runs"))
      val n = d(col("n1") + col("n2"))
      val two = d(col("n1")) * d(col("n2")) * 2.0
      val mu = two / n + 1.0
      val sg = sqrt(two * (two - n) / (n * n * (n - 1.0)))
      g.select(col("event_type"), col("n1"), col("n2"), col("runs"),
          round((d(col("runs")) - mu) / sg, 6).as("z_stat"))
        .orderBy("event_type")
    }),

    // ---- per-token burstiness ---------------------------------------------
    // Variance-to-mean ratio of per-document counts over the WHOLE
    // corpus (zeros included — the closed form (D·Σc² − N²)/(D·N)
    // needs only the containing-doc counts): burstiness separates
    // topical tokens (VMR ≫ 1, clumped) from function words (VMR ≈ 1,
    // Poisson-like) at identical frequency — the Zipf/Heaps
    // complement. Top-20 by document frequency; the 1-row corpus doc
    // count broadcasts into the 20-row table.
    "llm_burstiness" -> ((s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(toks).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      val perTok = perDoc.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("c").as("n_total"),
          sum(col("c") * col("c")).as("scc"))
      val dCnt = Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_docs"))
      perTok.crossJoin(broadcast(dCnt))
        .select(col("tok"), col("df"), col("n_total"),
          round((d(col("n_docs")) * d(col("scc")) -
            d(col("n_total")) * d(col("n_total"))) /
            (d(col("n_docs")) * d(col("n_total"))), 6).as("vmr"))
        .orderBy(col("df").desc, col("tok")).limit(20)
    }),

    // ---- Simpson / Shannon source diversity -------------------------------
    // How concentrated is each language's corpus across sources?
    // Simpson's λ = Σnᵢ(nᵢ−1)/(N(N−1)) is exact integer arithmetic;
    // Shannon H sums 8dp-quantized per-source terms (the only float
    // sum, order-free as a decimal), extracted back to an integer unit
    // sum before the final division.
    "llm_simpson_diversity" -> ((s, dir) => {
      val cnt = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("ni"))
      val tot = cnt.groupBy(col("lang").as("l2"))
        .agg(sum("ni").as("nn"), count(lit(1)).as("n_sources"))
      val j = cnt.join(broadcast(tot), col("lang") === col("l2"))
      val hTerm = round(-(d(col("ni")) / d(col("nn"))) *
        log(d(col("ni")) / d(col("nn"))), 8).cast(DecimalType(18, 8))
      j.groupBy("lang")
        .agg(max("nn").as("n_docs"), max("n_sources").as("n_sources"),
          sum(col("ni") * (col("ni") - 1)).as("sii"),
          (sum(hTerm) * 100000000).cast("long").as("hu"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          round(lit(1.0) - d(col("sii")) /
            (d(col("n_docs")) * d(col("n_docs") - 1)), 6).as("simpson"),
          (d(col("hu")) / 1.0e8).as("shannon"))
        .orderBy("lang")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_chow_test" -> s"""
      |WITH $dailyCentiSql,
      |g AS (SELECT event_type,
      |    CAST(count(*) FILTER (day <= 15) AS BIGINT) AS n1,
      |    CAST(sum(day) FILTER (day <= 15) AS BIGINT) AS sx1,
      |    CAST(sum(xc) FILTER (day <= 15) AS BIGINT) AS sy1,
      |    CAST(sum(day * day) FILTER (day <= 15) AS BIGINT) AS sxx1,
      |    CAST(sum(day * xc) FILTER (day <= 15) AS BIGINT) AS sxy1,
      |    CAST(sum(xc * xc) FILTER (day <= 15) AS BIGINT) AS syy1,
      |    CAST(count(*) FILTER (day > 15) AS BIGINT) AS n2,
      |    CAST(sum(day) FILTER (day > 15) AS BIGINT) AS sx2,
      |    CAST(sum(xc) FILTER (day > 15) AS BIGINT) AS sy2,
      |    CAST(sum(day * day) FILTER (day > 15) AS BIGINT) AS sxx2,
      |    CAST(sum(day * xc) FILTER (day > 15) AS BIGINT) AS sxy2,
      |    CAST(sum(xc * xc) FILTER (day > 15) AS BIGINT) AS syy2,
      |    CAST(count(*) AS BIGINT) AS np,
      |    CAST(sum(day) AS BIGINT) AS sxp,
      |    CAST(sum(xc) AS BIGINT) AS syp,
      |    CAST(sum(day * day) AS BIGINT) AS sxxp,
      |    CAST(sum(day * xc) AS BIGINT) AS sxyp,
      |    CAST(sum(xc * xc) AS BIGINT) AS syyp
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n1, n2,
      |  round((((CAST(syyp AS DOUBLE) - CAST(syp AS DOUBLE)*CAST(syp AS DOUBLE)/CAST(np AS DOUBLE))
      |      - (CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE)*CAST(syp AS DOUBLE)/CAST(np AS DOUBLE))
      |        * (CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE)*CAST(syp AS DOUBLE)/CAST(np AS DOUBLE))
      |        / (CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE)*CAST(sxp AS DOUBLE)/CAST(np AS DOUBLE))
      |      - ((CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |        - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |          * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |          / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sx1 AS DOUBLE)/CAST(n1 AS DOUBLE)))
      |      - ((CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |        - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |          * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |          / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sx2 AS DOUBLE)/CAST(n2 AS DOUBLE))))
      |    / 2.0)
      |    / ((((CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |        - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |          * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      |          / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sx1 AS DOUBLE)/CAST(n1 AS DOUBLE)))
      |      + ((CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |        - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |          * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      |          / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE)*CAST(sx2 AS DOUBLE)/CAST(n2 AS DOUBLE))))
      |      / (CAST(n1 + n2 AS DOUBLE) - 4.0)), 4) AS f_stat
      |FROM g ORDER BY event_type""".stripMargin,

    "agg_runs_test" -> s"""
      |WITH $dailyMicroSql,
      |ms AS (SELECT event_type, xu,
      |    row_number() OVER (PARTITION BY event_type ORDER BY xu, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM daily),
      |med AS (SELECT event_type AS k,
      |    CASE WHEN count(*) = 1 THEN sum(xu) * 2 ELSE sum(xu) END AS med2
      |  FROM ms WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
      |  GROUP BY event_type),
      |f AS (SELECT d.event_type, d.day,
      |    CASE WHEN d.xu * 2 > med2 THEN 1 ELSE 0 END AS ab
      |  FROM daily d JOIN med ON d.event_type = med.k
      |  WHERE d.xu * 2 <> med2),
      |r AS (SELECT event_type, ab,
      |    CASE WHEN lag(ab, 1) OVER (PARTITION BY event_type ORDER BY day)
      |      IS DISTINCT FROM ab THEN 1 ELSE 0 END AS chg
      |  FROM f),
      |g AS (SELECT event_type, CAST(sum(ab) AS BIGINT) AS n1,
      |    CAST(count(*) FILTER (ab = 0) AS BIGINT) AS n2,
      |    CAST(sum(chg) AS BIGINT) AS runs
      |  FROM r GROUP BY 1)
      |SELECT event_type, n1, n2, runs,
      |  round((CAST(runs AS DOUBLE)
      |      - (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 2.0
      |          / CAST(n1 + n2 AS DOUBLE) + 1.0))
      |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 2.0
      |      * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 2.0
      |          - CAST(n1 + n2 AS DOUBLE))
      |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |        * (CAST(n1 + n2 AS DOUBLE) - 1.0))), 6) AS z_stat
      |FROM g ORDER BY event_type""".stripMargin,

    "llm_burstiness" -> """
      |WITH pd AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |      x -> x <> '')) AS tok
      |  FROM documents),
      |pc AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
      |  FROM pd GROUP BY 1, 2),
      |pt AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(c) AS BIGINT) AS n_total,
      |    CAST(sum(c * c) AS BIGINT) AS scc
      |  FROM pc GROUP BY 1),
      |dc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT tok, df, n_total,
      |  round((CAST(n_docs AS DOUBLE) * CAST(scc AS DOUBLE)
      |      - CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
      |    / (CAST(n_docs AS DOUBLE) * CAST(n_total AS DOUBLE)), 6) AS vmr
      |FROM pt CROSS JOIN dc
      |ORDER BY df DESC, tok LIMIT 20""".stripMargin,

    "llm_simpson_diversity" -> """
      |WITH cnt AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS ni
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(ni) AS BIGINT) AS nn,
      |    CAST(count(*) AS BIGINT) AS n_sources
      |  FROM cnt GROUP BY 1),
      |j AS (SELECT cnt.lang, ni, nn, n_sources,
      |    CAST(round(-(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE)), 8)
      |      AS DECIMAL(18,8)) AS ht
      |  FROM cnt JOIN tot ON cnt.lang = tot.lang)
      |SELECT lang, max(nn) AS n_docs, max(n_sources) AS n_sources,
      |  round(1.0 - CAST(sum(ni * (ni - 1)) AS DOUBLE)
      |    / (CAST(max(nn) AS DOUBLE) * CAST(max(nn) - 1 AS DOUBLE)), 6)
      |    AS simpson,
      |  CAST(CAST(sum(ht) * 100000000 AS BIGINT) AS DOUBLE) / 1.0e8
      |    AS shannon
      |FROM j GROUP BY lang ORDER BY lang""".stripMargin)
}
