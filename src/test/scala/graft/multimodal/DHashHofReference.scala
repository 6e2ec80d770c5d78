package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

object DHashHofReference {

  /** The pre-r13 HOF formulation of [[MultimodalOps.dHash]], kept as the parity reference
    * (MultimodalSpec pins native == HOF on random rasters): ~64 interpreted
    * lambda bodies per row made it the measured per-row floor of the image
    * family at 100×. */
  def dHashHof(gray: Column, hashW: Int = 8, hashH: Int = 8): Column = {
    require(hashW * hashH == 64, "dHash is a 64-bit code: hashW*hashH must be 64")
    val powers = typedlit((0 until 32).map(1L << _))
    def half(offset: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, i) => {
        val j = i + lit(offset)
        val base = (j / lit(hashW)).cast("int") * (hashW + 1) +
          pmod(j, lit(hashW)).cast("int")
        acc + when(element_at(gray, base + 1) > element_at(gray, base + 2),
          element_at(powers, i.cast("int") + 1)).otherwise(lit(0L))
      })
    struct(half(32).as("hi"), half(0).as("lo"))
  }
}
