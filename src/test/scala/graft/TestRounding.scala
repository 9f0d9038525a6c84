package graft

/** Replay helper shared by the specs that recompute a query's rounded
  * outputs from its collected rows. */
object TestRounding {

  /** `x` rounded half-up to `dp` decimal places (exact BigDecimal
    * rounding of the double's decimal expansion). */
  def r(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
}
