package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Unit-conversion scalar functions as native Catalyst `Column` expressions (codegen'd —
  * no UDFs). Semantics mirror `/root/reference/scripts/2_clean_data/calc_clean.py:68-322`.
  */
object Units {
  def degCtoK(c: Column): Column = c + lit(273.15)
  def degFtoK(c: Column): Column = (c - lit(32.0)) * (lit(5.0) / lit(9.0)) + lit(273.15)
  def hpaToPa(c: Column): Column = c * lit(100.0)
  def kpaToPa(c: Column): Column = c * lit(1000.0)
  def inHgToPa(c: Column): Column = c * lit(3386.39)
  def mphToMs(c: Column): Column = c / lit(2.237)
  def inToMm(c: Column): Column = c * lit(25.4)
  def ftToM(c: Column): Column = c * lit(0.3048)
}
