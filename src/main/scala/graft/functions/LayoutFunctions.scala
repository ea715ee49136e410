package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout primitives: space-filling-curve keys for multi-dimensional
  * clustering.
  *
  * Z-ordering (Morton curve) is the standard answer to "this 100 TB table
  * is range-filtered on TWO columns, but sorting clusters only one": write
  * the table range-partitioned + sorted by the interleaved key and every
  * parquet row group's z-min/z-max covers a small aligned rectangle in
  * (x, y) space, so min/max pruning skips files for 2-D predicates the way
  * a plain sort only manages for its leading column (Delta/Iceberg
  * OPTIMIZE ZORDER does exactly this).
  *
  * Everything here is plain bitwise Column arithmetic — codegen'd
  * built-ins, no UDF, no shuffle — and every step is mask-BEFORE-shift so
  * no intermediate can overflow a signed 64-bit lane (ANSI-safe; DuckDB
  * re-derives the identical fold from [[spreadSteps]]).
  */
object LayoutFunctions {

  /** The bit-spread schedule (shift, mask-after) for dilating a 31-bit
    * value so its bits occupy even positions: the SINGLE source for both
    * [[spreadBits]] and the q85 oracle's CTE chain (RelationalQueries
    * interpolates these constants into SQL), so the two engines' z-values
    * cannot drift.
    */
  val spreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8  -> 0x00FF00FF00FF00FFL,
    4  -> 0x0F0F0F0F0F0F0F0FL,
    2  -> 0x3333333333333333L,
    1  -> 0x5555555555555555L)

  /** Dilate the low 31 bits of a non-negative long so bit i lands at 2i.
    * Each step is the overflow-free rewrite of `(x | x<<s) & m`:
    * `((x & (m>>>s)) << s) | (x & m)` — bits are masked down before the
    * shift, so nothing ever crosses bit 62.
    */
  def spreadBits(x: Column): Column =
    spreadSteps.foldLeft(x.cast("long")) { case (acc, (s, m)) =>
      shiftleft(acc.bitwiseAND(lit(m >>> s)), s).bitwiseOR(acc.bitwiseAND(lit(m)))
    }

  /** 2-D Morton (Z-order) key: x's bits at even positions, y's at odd.
    * Inputs must be non-negative and < 2^31; the result is a non-negative
    * long, monotone in each coordinate's bit prefix — `z >> 2t` is the
    * Morton code of the (x >> t, y >> t) tile, which is the locality law
    * q85 proves per tile.
    */
  def morton(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))
}
