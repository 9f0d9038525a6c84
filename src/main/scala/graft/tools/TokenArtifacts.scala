package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryUtils.toks
import graft.sources.Tables

/** Build-once memo for the corpus UNIGRAM FREQUENCY LEDGER — the
  * persisted vocabulary table of a curation pipeline.
  *
  * At 100 TB, "tokenize the corpus" is a pipeline STAGE, not a
  * per-query prefix: the (slice keys, token) → count ledger is written
  * once (vocabulary times a handful of catalog-bounded slice keys —
  * MEASURED Heaps-sublinear, not asserted: ScaleDryRun's `[scale_r12]`
  * decade grows the corpus 32× with fresh vocabulary on a 10% token
  * slice per replica and records build time ~linear in the scan but
  * ledger rows far below 32×; SCALING.md §"Measured scale behavior"
  * carries the curve) and every lexical statistic
  * — Zipf fits, keyness, divergences, vocabulary coverage, frequency
  * Gini — is a ledger ROLLUP, not a fresh 100 TB tokenize+shuffle.
  * Before round 11 each of the ~15 unigram-statistic queries re-ran
  * the full corpus pass (r10 verdict item 6); this memo gives the
  * harness the production access pattern, exactly as the ANN probes
  * read the memoized codebook and the dedup evals read
  * [[PairArtifacts]]' pair lists.
  *
  * Ledger key: (lang, source, half, bucket, tok) where
  * `half` = doc_id % 2 (the split-half key llm_cross_entropy
  * contrasts) and `bucket` = (3·pos) div len ∈ {0,1,2} (the doc-third
  * position key llm_positional_bias profiles) — both catalog-bounded,
  * so the ledger is ≤ |langs|·|sources|·6 × vocabulary rows. Every
  * consumer rolls up the exact integer `cnt` over the keys it ignores;
  * counts are associative, so each rollup equals the consumer's
  * pre-r11 direct aggregation bit-for-bit, and the DuckDB oracles
  * (which still tokenize from raw text) stay hash-green.
  *
  * NOT servable from this ledger, by design: doc-keyed statistics
  * (hapax share, OOV rate, per-doc logprob — they need the (doc_id,
  * tok) stream), n-gram surfaces (bigrams, skip-grams, char trigrams
  * — different token universe), and llm_heavy_hitters (its declared
  * sketch tokenizes WITHOUT the empty filter). Those keep their own
  * corpus passes.
  *
  * Bench/guard interplay is inherited from [[IndexCache]]: the warm-up
  * populates the memo, `Bench` clears it so the first TIMED consumer
  * pays the one build (attributed separately in bench_out.json),
  * `PlanCapture.enable()` clears it so PlanGuardSpec audits a fresh
  * build, and DeterminismSpec's double-run rebuilds per run.
  */
object TokenArtifacts {

  /** The ledger expression over an arbitrary documents frame — the
    * exact shape [[unigram]] materializes, exposed so ScaleDryRun's
    * `[scale_r12]` decade replays the SHIPPED build at k× (tuning the
    * build retunes the decade). */
  def unigramOf(d: DataFrame): DataFrame =
    // r14: per-doc (bucket, tok) pre-counts from the codegen'd
    // TokenBucketCounts kernel — one tokenize pass per doc (the old
    // form ran split+filter twice: once under size(), once under the
    // generator) and one emitted row per distinct (bucket, tok) instead
    // of one per occurrence. The groupBy sums the per-doc counts;
    // counts are associative, so the ledger is bit-identical
    // (TextNGramsSpec pins the kernel against the posexplode form).
    d.select(col("lang"), col("source"),
        (col("doc_id") % 2).as("half"),
        explode_outer(
          graft.functions.TextNGrams.mkTokenBucketCounts(col("text"))).as("e"))
      .where(col("e").isNotNull)
      .groupBy(col("lang"), col("source"), col("half"),
        col("e.bucket").as("bucket"), col("e.tok").as("tok"))
      .agg(sum(col("e.cnt")).as("cnt"))

  /** The (lang, source, half, bucket, tok) → cnt unigram ledger for
    * `dir`, built on first use and materialized (eager checkpoint —
    * the exactly-once pipeline-intermediate shape). With
    * `spark.graft.artifactRoot` set the ledger persists as a versioned
    * parquet table and later SESSIONS read the stored form instead of
    * rebuilding ([[ArtifactStore]]; cross-session hash-identity pinned
    * in ArtifactStoreSpec). */
  def unigram(s: SparkSession, dir: String): DataFrame =
    IndexCache.cached(s, s"tokens.unigram:$dir") {
      ArtifactStore.durable(s, dir, "tokens.unigram") {
        Materialize.eager("tokens.unigram",
          unigramOf(Tables.documents(s, dir)))
      }
    }

  /** (lang, tok) → cnt rollup — the per-language term-frequency table
    * (token Gini / mean word rank / legomena / Zipf / Yule-K /
    * Honoré-R / odds-ratio family). */
  def byLang(s: SparkSession, dir: String): DataFrame =
    unigram(s, dir).groupBy("lang", "tok").agg(sum("cnt").as("cnt"))

  /** (source, tok) → cnt rollup — the per-source table (JS divergence,
    * stopword profile, keyness). */
  def bySource(s: SparkSession, dir: String): DataFrame =
    unigram(s, dir).groupBy("source", "tok").agg(sum("cnt").as("cnt"))

  /** (tok) → cnt rollup — the corpus-global table (vocab coverage,
    * stop-list cuts, rest-of-corpus denominators). */
  def global(s: SparkSession, dir: String): DataFrame =
    unigram(s, dir).groupBy("tok").agg(sum("cnt").as("cnt"))

  /** The DOCUMENT-FREQUENCY ledger: (lang, source, half, tok) → ndoc,
    * the second persisted grain of the vocabulary table (r11 verdict
    * item 2). `ndoc` counts documents CONTAINING tok at least once —
    * not occurrences — so it cannot roll up from [[unigram]]; it needs
    * its own `array_distinct` pass over the corpus. It IS associative
    * over its own keys: every document occupies exactly one
    * (lang, source, half) cell, so summing `ndoc` over ignored keys
    * equals the direct distinct-doc count bit-for-bit (contract-pinned
    * in TokenArtifactsSpec). Serves the df family — IDF weights
    * (llm_tfidf_topterms, llm_bm25) and the corpus-half df drift
    * monitor (llm_idf_drift) — as ledger rollups instead of fresh
    * corpus tokenize+shuffle passes. */
  def docfreq(s: SparkSession, dir: String): DataFrame =
    IndexCache.cached(s, s"tokens.docfreq:$dir") {
      ArtifactStore.durable(s, dir, "tokens.docfreq") {
        Materialize.eager("tokens.docfreq",
          Tables.documents(s, dir)
            .select(col("lang"), col("source"),
              (col("doc_id") % 2).as("half"),
              explode(array_distinct(toks)).as("tok"))
            .groupBy("lang", "source", "half", "tok")
            .agg(count(lit(1)).as("ndoc")))
      }
    }

  /** (half, tok) → ndoc rollup — the corpus-half df table
    * (llm_idf_drift's crawl-drift monitor). */
  def dfByHalf(s: SparkSession, dir: String): DataFrame =
    docfreq(s, dir).groupBy("half", "tok").agg(sum("ndoc").as("ndoc"))

  /** (tok) → ndoc rollup — the corpus-global df table (IDF weights). */
  def dfGlobal(s: SparkSession, dir: String): DataFrame =
    docfreq(s, dir).groupBy("tok").agg(sum("ndoc").as("ndoc"))
}
