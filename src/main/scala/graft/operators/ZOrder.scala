package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) keys — multi-column data skipping for the lakehouse
  * layout step: interleaving the bits of two sort keys gives a single
  * clustering key under which a range predicate on EITHER column touches
  * only ~√(files) of the layout, where a plain lexicographic sort can skip
  * on its leading column alone. The key behind Delta/Iceberg
  * `OPTIMIZE ZORDER BY`, built here from codegen'd bit arithmetic: a
  * map-side expression that a range-partitioned write sorts on, after
  * which every engine that reads parquet row-group/file min-max stats
  * skips on both columns — no index structure to maintain.
  */
object ZOrder {

  /** 2·`bits`-bit Morton code of the low `bits` bits of two non-negative
    * integer columns: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Pure long shifts/masks (codegen'd, replayable in any engine with
    * `>>`/`&`/`|`). Values wider than `bits` bits alias modulo 2^bits —
    * callers cluster on id-like or bucketed columns sized to fit.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** The identical computation as ANSI-ish SQL text over column names —
    * generated from the same loop so an external engine (the DuckDB
    * oracle) replays [[zValue]] bit for bit.
    */
  def zValueSql(a: String, b: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).flatMap { i =>
      Seq(
        s"(((CAST($a AS BIGINT) >> $i) & 1) << ${2 * i})",
        s"(((CAST($b AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")
  }
}
