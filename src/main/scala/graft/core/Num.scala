package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric conventions shared by every query and its DuckDB oracle.
  *
  * Outputs that reach the correctness gate are bounded-magnitude statistics
  * (means / slopes / ratios) rounded to 4 decimals: cross-engine summation
  * order perturbs doubles at ~1e-12 relative, so a 1e-4 grid makes the
  * driver's value-hash stable while still checking ~8 significant digits on
  * typical magnitudes.
  */
object Num {
  /** Round to the oracle grid. Keep in sync with `round(x, 4)` in oracleSql. */
  def r4(c: Column): Column = round(c, 4)

  /** Spark's round(x, 4) on a driver-side double: HALF_UP on its decimal
    * form, so a value computed on the driver lands on the grid `r4` puts a
    * column on. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Round to 6 decimals — for small-magnitude values (ratios, weights). */
  def r6(c: Column): Column = round(c, 6)

  /** Deterministic 60-bit positive hash of a string column, reproducible in
    * DuckDB as `('0x' || substr(md5(x), 1, 15))::BIGINT`. Engine-neutral by
    * construction (MD5 is MD5 everywhere), unlike Spark's xxhash64 /
    * DuckDB's hash(). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Same, reduced mod a 31-bit prime — safe to multiply by 31-bit
    * constants without bigint overflow (used by MinHash). */
  val HashPrime: Long = 2147483647L
  def md5Mod(c: Column): Column = md5Long(c) % HashPrime
}
