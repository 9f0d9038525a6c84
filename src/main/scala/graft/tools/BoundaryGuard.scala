package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Round-boundary hazard detection (VERDICT r8 item 2).
  *
  * The r8 driver run proved that `round(<raw double>, N)` on an emitted
  * column is environment-sensitive. Two distinct failure modes:
  *
  *  1. **String-vs-scaled-binary rounding of the SAME double.** Spark
  *     rounds the shortest-decimal string (`BigDecimal.valueOf`)
  *     half-up; DuckDB half-aways the scaled binary product
  *     (`std::round(x·10ⁿ)/10ⁿ`). They disagree whenever the string
  *     sits on (or across) a `.5×10⁻ᴺ` boundary the product lands on
  *     the other side of. This happens SYSTEMATICALLY when the true
  *     rational is exactly on the boundary (e.g. a /2 of an odd 6dp
  *     value rounded at 6dp) — the double then lands sub-ulp-close
  *     every time. The guard reproduces BOTH algorithms exactly and
  *     hard-fails on any disagreement ([[BoundaryGuard.check]]).
  *  2. **libm drift upstream.** Java Math.pow/log vs DuckDB's libm are
  *     only ≤1-ulp-accurate (not correctly rounded), so a chain through
  *     pow/ln/exp can shift the pre-round double by a few ulps across
  *     engines — win_macd's r8 failure. Sqrt and all +−×/ are IEEE
  *     correctly rounded and carry NO cross-engine drift. Rounds whose
  *     input dataflow contains a libm function additionally WARN
  *     inside [[BoundaryGuard.WarnUlpsLibm]].
  *
  * [[BoundaryGuard.sweep]] rewrites every `Round(child: double, n)` in
  * a query's analyzed plan into a [[BoundaryGuardedRound]] that
  * evaluates both engines' rounding algorithms on every pre-round
  * value and throws on any disagreement. libm taint is
  * propagated bottom-up through plan aliases (Project/Aggregate/Window
  * all bind computed columns via Alias), so a `round(col("t"), 6)`
  * whose `t` was produced by an earlier pow-bearing withColumn is
  * correctly classified into the libm tier.
  */
object BoundaryGuard {

  /** WARN margin for rounds whose input dataflow passes through a
    * libm function (pow/ln/exp/trig — NOT sqrt): cross-engine libm
    * drift is 1–2 ulp per link, so a libm-tainted round this close to
    * a boundary COULD flip on an engine whose libm disagrees on that
    * input — the identical-double premise of the exact fail check
    * below does not hold through libm. This cannot be made fail-tight:
    * million-term quantized-ln sums (the house round(ln,8)-then-
    * decimal-sum idiom) statistically land a few terms within any
    * fixed margin at large SF, and their safety rests on the empirical
    * bit-agreement of the two engines' libm — which the per-round 3-SF
    * parity gate, not this guard, arbitrates. The guard PRINTS these
    * sites for visibility. */
  val WarnUlpsLibm = 16.0

  /** FRAGILITY margin (printed, not thrown): a pre-round double
    * strictly inside the 0.5-ulp interval around a half boundary often
    * means the true rational is exactly ON the boundary — a systematic
    * generator that will eventually produce a diverging instance even
    * if today's artifacts agree. Chance landings (irrational sqrt
    * terms at high-magnitude dp=8 sites) also appear here, so this is
    * a review signal, not a gate. */
  val FragileUlps = 0.5

  /** Catalyst expression classes evaluated via libm (≤1-ulp accurate,
    * engine-build-dependent). Sqrt is correctly rounded — excluded. */
  private val LibmClasses = Set(
    "Pow", "Logarithm", "Log", "Log2", "Log10", "Log1p",
    "Exp", "Expm1", "Sin", "Cos", "Tan", "Asin", "Acos", "Atan",
    "Atan2", "Sinh", "Cosh", "Tanh", "Hypot", "Cbrt")

  private val Half = new java.math.BigDecimal("0.5")

  /** Spark's round(double, n): shortest-decimal-string HALF_UP —
    * Round's eval is `BigDecimal(double).setScale(n, HALF_UP)` and
    * Scala's BigDecimal(double) uses java BigDecimal.valueOf (the
    * Double.toString shortest repr). */
  def sparkRound(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** DuckDB's round(DOUBLE, n): `std::round(x·10ⁿ)/10ⁿ` — half away
    * from zero applied DIRECTLY to the scaled double (probed against
    * duckdb v1.0.0 on boundary values, high magnitudes and negatives;
    * note this is NOT floor(+0.5), which already differs at
    * |x·10ⁿ| ≥ 2^52 where adding 0.5 rounds up). */
  def duckRound(x: Double, scale: Int): Double = {
    val p = math.pow(10, scale)
    val sAbs = math.abs(x * p)
    val f = math.floor(sAbs)
    val r = if (sAbs - f >= 0.5) f + 1.0 else f
    math.copySign(r, x) / p
  }

  /** Throws iff the two engines' rounding algorithms DISAGREE on this
    * exact double — Spark rounds the shortest-decimal string half-up
    * while DuckDB half-aways the scaled binary product, and a value
    * whose string sits on a `.5×10⁻ⁿ` boundary while its product lands
    * below it (e.g. 0.285 at 2dp) flips the last digit on one engine
    * only. This is EXACT: no ulp thresholds, no false positives. For
    * libm-tainted sites it additionally prints a warning when the
    * value sits within [[WarnUlpsLibm]] of a boundary, because there
    * the identical-double premise itself can break across engine
    * builds (the win_macd r8 failure). */
  def check(x: Double, scale: Int, libm: Boolean, tag: String): Unit = {
    if (!java.lang.Double.isFinite(x)) return
    // tier 1 — LIVE divergence: the two algorithms disagree on this
    // exact double. A driver run with this value WOULD hash-mismatch.
    val sR = sparkRound(x, scale)
    val dR = duckRound(x, scale)
    if (sR != dR)
      throw new IllegalStateException(
        f"rounding-divergence hazard [$tag]: x=$x%.17g dp=$scale " +
          f"spark=$sR%.17g duck=$dR%.17g")
    val y = new java.math.BigDecimal(x).movePointRight(scale)
    val dist = y.remainder(java.math.BigDecimal.ONE).abs.subtract(Half).abs
    if (dist.signum == 0) return // exactly on the boundary: verified agree above
    val ulp = math.ulp(math.abs(x) * math.pow(10, scale))
    // beyond-precision rounds: ulp(y) approaches the boundary spacing
    // (|x|·10ⁿ ≳ 2^52) — round() degenerates to near-identity on both
    // engines and sub-ulp proximity carries no fragility signal
    if (ulp >= 0.25) return
    val distUlp = dist.doubleValue() / ulp
    // tier 2 — FRAGILE systematic rational (printed): the value sits
    // inside the double's own 0.5-ulp interval around a boundary,
    // i.e. the TRUE rational may be exactly ON the boundary — a
    // systematic generator whose next SF/dataset instance can be the
    // diverging 0.285-style one. Printed rather than thrown because
    // high-magnitude dp=8 rounds (ulp(y) ≳ 1e-4) land here by CHANCE
    // on irrational sqrt terms where no exact-arithmetic refactor
    // exists; the ten r9 systematic sources surfaced by this tier
    // (win_adx … llm_emb_dim_variance) are all reworked to exact
    // integer/decimal arithmetic per VERDICT r8 item 2.
    if (distUlp < FragileUlps)
      println(f"[boundary] FRAGILE $tag: round at $distUlp%.2f ulp from a " +
        f"dp=$scale boundary (x=$x%.17g) — systematic source? refactor " +
        "to exact arithmetic if the pre-round rational can terminate")
    // tier 3 — libm drift watch (printed, parity gate arbitrates)
    else if (libm && distUlp < WarnUlpsLibm)
      println(f"[boundary] WARN $tag: libm-tainted round at $distUlp%.2f " +
        f"ulp from a dp=$scale boundary (x=$x%.17g) — parity gate arbitrates")
  }

  private def usesLibm(e: Expression, tainted: mutable.Set[Long]): Boolean =
    e.exists {
      case a: AttributeReference => tainted.contains(a.exprId.id)
      case other => LibmClasses.contains(other.getClass.getSimpleName)
    }

  /** Rewrites double-typed Rounds in `df`'s plan to guarded rounds and
    * executes the result end-to-end; returns (sites, libmSites). */
  def sweep(spark: SparkSession, name: String, df: DataFrame): (Int, Int) = {
    var sites = 0
    var libmSites = 0
    val tainted = mutable.Set.empty[Long]
    val guarded = df.queryExecution.analyzed.transformUp { case node =>
      val rewritten = node.transformExpressionsUp {
        case r: Round if r.child.dataType == DoubleType =>
          r.scale match {
            case Literal(s: Int, _) =>
              sites += 1
              val libm = usesLibm(r.child, tainted)
              if (libm) libmSites += 1
              BoundaryGuardedRound(r.child, s, libm, name)
            case _ => r
          }
      }
      // propagate libm taint through this node's named outputs
      rewritten.expressions.foreach { e =>
        e.foreach {
          case a: Alias if usesLibm(a.child, tainted) =>
            tainted += a.exprId.id
          case _ => ()
        }
      }
      rewritten
    }
    if (sites > 0) spark.sessionState.executePlan(guarded).toRdd.count()
    (sites, libmSites)
  }
}

/** Drop-in Round(child: double, scale) replacement that measures the
  * exact boundary distance of every evaluated input before emitting the
  * same shortest-decimal-string half-up result Spark's Round produces.
  * CodegenFallback on purpose — this runs only in the guard sweep, not
  * in any declared query path. */
case class BoundaryGuardedRound(
    child: Expression, scale: Int, libm: Boolean, tag: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    if (!java.lang.Double.isFinite(x)) x
    else {
      BoundaryGuard.check(x, scale, libm, tag)
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }
}

/** CLI sweep over declared queries: `BoundarySweep <sfDir> [name ...]`
  * (no names = the full surface). Prints one line per query with
  * Round(double) site counts and exits non-zero on any hazard. */
object BoundarySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 1) args.tail.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    var hazards = 0
    var executed = 0
    for (n <- names) {
      try {
        val (sites, libm) =
          BoundaryGuard.sweep(spark, n, graft.SparkEntry.queries(n)(spark, sfDir))
        if (sites > 0) {
          executed += 1
          println(s"[boundary] OK $n sites=$sites libm=$libm")
        }
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("") +
            Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
          hazards += 1
          println(s"[boundary] HAZARD $n: ${msg.linesIterator.take(1).mkString}")
      }
    }
    println(s"[boundary] swept=${names.size} executed=$executed hazards=$hazards")
    spark.stop()
    if (hazards > 0) sys.exit(1)
  }
}
