package graft

package object streaming {

  /** HALF_UP rounding to 6 decimals, the one rounding of the monitors'
    * driver-side readouts (shares, PSI terms, coverage, moments). */
  private[streaming] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
