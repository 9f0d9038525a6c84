package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.QueryUtils.duckToks
import graft.functions.VectorFunctions.sortedIntersectCount

/** Shared shingling + exact-Jaccard verification kernel for the
  * near-dup family (prefix-filter join, MinHash-LSH, banded SimHash).
  */

/** Sorted distinct 3-token shingles of a text column, as a native
  * codegen'd Catalyst expression.
  *
  * Why an Expression and not `transform(sequence(...))`: higher-order
  * builtins interpret their lambda per element (measured 5 s vs 0.2 s on
  * sf0.1); this compiles to one tight loop per row. Why an Expression and
  * not a Scala UDF: round 1 shipped this as a UDF marked
  * `.asNondeterministic()` purely to stop the optimizer from duplicating
  * it into pushed-down inferred generator filters — lying about
  * determinism blocks legitimate rewrites. The expression is honestly
  * deterministic; the duplication is instead avoided at the call sites
  * by exploding with `explode_outer` (no inferred `size(...) > 0` filter
  * to push below the projection).
  *
  * Determinism contract (matches the DuckDB oracle CTE):
  *  - tokens = text split on single spaces, EMPTY TOKENS DROPPED on both
  *    engines (Java's split(' ') drops only trailing empties while
  *    DuckDB's string_split keeps them — filtering explicitly on both
  *    sides removes the divergence on multi-space text);
  *  - shingles are distinct and sorted in UTF8String binary order (UTF-8
  *    byte order), the SAME order SortedIntersectCount's merge pass
  *    compares with — JVM String ordering would disagree on
  *    supplementary-plane characters.
  */
case class ShingleArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ShingleArray requires a string input, got $other")
    }

  override def nullSafeEval(t: Any): Any =
    ShingleArray.shingles(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleArray.shingles($c);")

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

object ShingleArray {
  /** Compiled kernel shared by interpreted eval and generated code. */
  def shingles(text: UTF8String): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    // TreeSet over UTF8String = distinct + UTF-8 byte-order sorted, the
    // exact order SortedIntersectCount's merge expects
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i <= toks.length - 3) {
      set.add(UTF8String.fromString(toks(i) + " " + toks(i + 1) + " " + toks(i + 2)))
      i += 1
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[Any]])
  }
}

/** Sorted distinct character 20-grams of a text column — the
  * character-level sibling of ShingleArray, for n-gram Jaccard dedup
  * (robust to tokenization differences: whitespace noise, punctuation
  * splits, and agglutinative scripts where token shingles miss overlap).
  *
  * Why 20: gram length sets the entropy of the join key that
  * prefix-filtered candidate generation hinges on, and it must exceed
  * the corpus's template redundancy. Measured on this corpus at sf0.1
  * (5000 docs): 4-grams collapse to 985 distinct values with median
  * document frequency 541 — every pair of documents shares "rare" grams
  * and the candidate join degenerates to O(n²) (11M pairs). 12-grams
  * give 131k distinct values but the templated synthetic text keeps
  * median df at 7 (Σdf² = 114M → 232k candidate pairs for 256 true
  * ones). 20-grams ≈ three English words give 1.1M distinct values,
  * median df 1, Σdf² = 2.7M — only 262k doc pairs share ANY gram, and
  * rare-prefix candidates track true near-dup density. Threshold
  * separation is untouched: the same 256 true pairs (J ≥ 0.7) come out,
  * and the best non-dup pair scores J = 0.065.
  *
  * Determinism contract: grams are CODE-POINT windows (matching DuckDB's
  * `substr(text, i, 20)`, which counts code points, not UTF-16 units or
  * bytes), distinct, and sorted in UTF-8 byte order — the same order
  * SortedIntersectCount's merge pass compares with.
  */
case class CharGramArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"CharGramArray requires a string input, got $other")
    }

  override def nullSafeEval(t: Any): Any =
    CharGramArray.grams(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharGramArray.grams($c);")

  override protected def withNewChildInternal(newChild: Expression): CharGramArray =
    copy(child = newChild)
}

object CharGramArray {
  final val N = 20

  /** Compiled kernel shared by interpreted eval and generated code. */
  def grams(text: UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    if (cps.length < N) return new GenericArrayData(Array.empty[Any])
    // TreeSet over UTF8String = distinct + UTF-8 byte-order sorted, the
    // exact order SortedIntersectCount's merge expects
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i <= cps.length - N) {
      set.add(UTF8String.fromString(new String(cps, i, N)))
      i += 1
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[Any]])
  }
}

/** Ordered token bigrams ("w1 w2" strings, duplicates KEPT, document
  * order preserved) of a text column — the n-gram generator for the
  * bigram-LM scorer. Unlike ShingleArray this is not a set: LM counts
  * need every occurrence. Tokenization matches the scorer's oracle:
  * split on single spaces, empty tokens dropped. The left token of a
  * bigram is recoverable as substring_index(bg, ' ', 1) since tokens
  * cannot contain spaces.
  *
  * Why an Expression: same reason as ShingleArray — the
  * transform(sequence(...)) higher-order builtin interprets its lambda
  * per element; this compiles to one tight loop per row.
  */
case class BigramArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"BigramArray requires a string input, got $other")
    }

  override def nullSafeEval(t: Any): Any =
    BigramArray.bigrams(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramArray.bigrams($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramArray =
    copy(child = newChild)
}

object BigramArray {
  /** Compiled kernel shared by interpreted eval and generated code. */
  def bigrams(text: UTF8String): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TextShingles {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column wrapper: sorted distinct 3-token shingles of a text column. */
  def mkShingles(c: Column): Column =
    ColumnBridge.column(ShingleArray(ColumnBridge.expr(c)))

  /** Column wrapper: ordered token bigrams of a text column. */
  def mkBigrams(c: Column): Column =
    ColumnBridge.column(BigramArray(ColumnBridge.expr(c)))

  /** Column wrapper: sorted distinct character 20-grams of a text column. */
  def mkCharGrams(c: Column): Column =
    ColumnBridge.column(CharGramArray(ColumnBridge.expr(c)))

  /** Verify candidate pairs against exact shingle Jaccard >= 0.6.
    *
    * `cand` = (a_id, b_id) candidate pairs; `sh` = (doc_id, sh: sorted
    * distinct shingles, n: size). The shingle arrays are re-attached with
    * PLAIN equi-joins on the doc id — no broadcast hint: the shingle
    * table grows with the corpus, and a pinned full-corpus broadcast is
    * a driver/executor OOM at 100 TB. The candidate side is the small
    * one (bounded by near-dup density), so AQE picks a broadcast of
    * `cand` when it genuinely fits; otherwise both joins are shuffles
    * keyed by doc id, co-partitioned with `sh`'s existing hash
    * partitioning. Verification is one merge-pass SortedIntersectCount
    * per candidate, and the 0.6 threshold is the integer-exact
    * `10·|∩| >= 6·|∪|` so no float boundary can diverge from the DuckDB
    * oracle. Output: (doc_a, doc_b, jaccard), globally ordered over the
    * CHECKPOINTED pair list — the verified pairs are materialized
    * first, so the orderBy's range sampling scans only the (near-dup-
    * density-sized) pair list, never re-runs the pipeline, and the
    * round-2 `repartition(1)` single-task funnel (a straggler once the
    * pair list grows with a dirty corpus's duplication rate) is gone.
    */
  def verifyJaccard06(cand: DataFrame, sh: DataFrame): DataFrame =
    verifyJaccard(cand, sh, tenths = 6)

  /** Threshold-parameterized variant: keeps pairs with Jaccard >= tenths/10
    * (integer-exact `10·|∩| >= tenths·|∪|`, no float boundary). */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, tenths: Int): DataFrame = {
    val sa = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"), col("n").as("na"))
    val sb = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"), col("n").as("nb"))
    val pairs = cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        sortedIntersectCount(col("a_sh"), col("b_sh")).as("inter"),
        col("na"), col("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      // coalesce(..., false): same rows kept (the operands are never null
      // here), but the predicate is null-TOLERANT, so the optimizer does
      // not infer isnotnull(na/nb/inter) constraints — those would be
      // pushed below the doc-id joins and re-evaluate the shingle kernel
      // inside the sa/sb scan filters (observed: isnotnull(size(
      // shinglearray(text))) in the FileScan DataFilters)
      .where(coalesce(col("inter") * 10 >= col("uni") * tenths, lit(false)))
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
    graft.tools.Materialize.eager("jaccard.pairs", pairs).orderBy("doc_a", "doc_b")
  }

  /** Containment sibling of verifyJaccard: keeps DIRECTED candidate
    * pairs with C(A,B) = |A∩B| / |A| >= tenths/10 (integer-exact
    * `10·|∩| >= tenths·|A|`). Same re-attach posture (plain doc-id
    * joins, no pinned broadcast) and the same null-TOLERANT coalesce
    * threshold — without it the optimizer infers isnotnull constraints
    * on inter/na, pushes them below the doc-id joins, and re-evaluates
    * the shingle kernel inside the sa/sb scan filters. */
  def verifyContainment(cand: DataFrame, sh: DataFrame, tenths: Int): DataFrame = {
    val sa = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"), col("n").as("na"))
    val sb = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val pairs = cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), col("na"),
        sortedIntersectCount(col("a_sh"), col("b_sh")).as("inter"))
      .where(coalesce(col("inter") * 10 >= col("na") * tenths, lit(false)))
      .select(col("a_id").as("contained_id"), col("b_id").as("container_id"),
        (col("inter").cast("double") / col("na")).as("containment"))
    graft.tools.Materialize.eager("containment.pairs", pairs).orderBy("contained_id", "container_id")
  }

  /** DuckDB CTE producing the same per-doc shingle sets (oracle side).
    * Empty tokens are filtered to match ShingleArray's tokenization. */
  val duckShingleCte: String =
    s"""WITH t AS (SELECT doc_id, $duckToks tok
      |           FROM documents
      |           WHERE len($duckToks) >= 3),
      |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tok) - 2),
      |        i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) sh FROM t)""".stripMargin
}
