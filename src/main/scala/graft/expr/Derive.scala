package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Derived meteorological variables as native Column expressions.
  * Formulas mirror `/root/reference/scripts/2_clean_data/calc_clean.py:325-462` and
  * `/root/reference/scripts/4_merge_data/merge_derive_missing.py:299-391`.
  * All trig-free: exp/log/pow only — whole-stage-codegen friendly.
  */
object Derive {

  /** Saturation vapor pressure (kPa) at temperature `t` (K): es = 0.611·e^{5423(1/273 − 1/T)}. */
  def satVaporPressure(t: Column): Column =
    lit(0.611) * exp(lit(5423.0) * (lit(1.0 / 273.0) - lit(1.0) / t))

  /** Dewpoint (K) from air temp (K) + RH (%) — method 1 (`calc_clean.py:325-346`). */
  def dewpointFromTasHurs(tas: Column, hurs: Column): Column = {
    val eVap = satVaporPressure(tas) * hurs / lit(100.0)
    dewpointFromVaporPressure(eVap)
  }

  /** Dewpoint (K) from vapor pressure (kPa) — method 2 (`calc_clean.py:349-364`). */
  def dewpointFromVaporPressure(eVap: Column): Column =
    lit(1.0) / (lit(1.0 / 273.0) - lit(0.0001844) * log(eVap / lit(0.611)))

  /** Relative humidity (%) from air temp + dewpoint (both K) (`calc_clean.py:367-387`). */
  def relhumid(tas: Column, tdps: Column): Column =
    lit(100.0) * satVaporPressure(tdps) / satVaporPressure(tas)

  /** Air temp (K) from RH (%) + dewpoint (K) — August-Roche-Magnus inverse
    * (`merge_derive_missing.py:327-364`). */
  def airtempFromHursTdps(hurs: Column, tdps: Column): Column = {
    val tdC = tdps - lit(273.15)
    val gamma = (lit(17.625) * tdC) / (lit(243.04) + tdC)
    val lnRh = log(hurs / lit(100.0))
    lit(243.04) * (gamma - lnRh) / (lit(17.625) + lnRh - gamma) + lit(273.15)
  }

  /** Station pressure (Pa) from sea-level pressure (Pa), elevation (m), air temp (K)
    * (`calc_clean.py:414-437`). */
  def psFromPsl(psl: Column, elev: Column, temp: Column): Column =
    psl / pow(lit(1.0) - (lit(0.0065) * elev) / (temp + lit(0.0065) * elev), lit(-5.257))

  /** Station pressure (Pa) from altimeter setting (Pa) + elevation (m)
    * (`calc_clean.py:440-462`). */
  def psFromAltimeter(alt: Column, elev: Column): Column = {
    val altInHg = alt / lit(3386.39)
    Units.inHgToPa(altInHg * pow((lit(288.0) - lit(0.0065) * elev) / lit(288.0), lit(5.2561)))
  }

  /** Synergistic flag for a derived variable: 38 where any input was flagged
    * (`merge_derive_missing.py:202-250`). */
  def synergisticFlag(inputFlags: Column*): Column =
    when(inputFlags.map(_.isNotNull).reduce(_ || _), lit(38).cast("int")).otherwise(lit(null).cast("int"))
}
