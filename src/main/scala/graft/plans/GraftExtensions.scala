package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharGramArray, FloatVecDot, ShingleArray, SortedIntersectCount}

/** Registers graft's custom Catalyst expressions as SQL functions.
  *
  * Two entry points:
  *  - config-time: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (the standard SparkSessionExtensions hook), or
  *  - runtime: `GraftFunctions.register(spark)` on an existing session.
  *
  * After either, `spark.sql("SELECT vec_dot(a, b) ...")` plans the
  * codegen'd expression directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    // isnotnull(kernel(x)) → isnotnull(x): keeps inferred constraints
    // from re-evaluating the text kernels inside parquet scan filters
    e.injectOptimizerRule(_ => KernelNullRule)
  }
}

object GraftFunctions {
  private type Builder = Seq[Expression] => Expression

  /** Every graft SQL function, once: (name, usage, builder). Both entry
    * points are derived from this table. */
  private val functions: Seq[(String, String, Builder)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two array<float> vectors as double",
      exprs => FloatVecDot(exprs(0), exprs(1))),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a ∩ b| for sorted distinct array<string>",
      exprs => SortedIntersectCount(exprs(0), exprs(1))),
    ("shingles",
      "shingles(text) - sorted distinct 3-token shingles (UTF-8 byte order) as array<string>",
      exprs => ShingleArray(exprs(0))),
    ("char_grams",
      "char_grams(text) - sorted distinct character 20-grams (code-point windows, UTF-8 byte order) as array<string>",
      exprs => CharGramArray(exprs(0))))

  /** `SparkSessionExtensions.injectFunction` descriptors (config time). */
  def descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    functions.map { case (name, usage, build) =>
      (FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf"),
        build)
    }

  /** Runtime registration on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
