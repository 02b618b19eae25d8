package graft.layout

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-column data skipping.
  *
  * A table range-partitioned and sorted on ONE column prunes scans only on
  * that column; interleaving the bits of several columns into one Z-value
  * and laying the data out in Z-order gives every interleaved column
  * locality at once — each file covers a small rectangle of the key space,
  * so min/max footer stats prune most files for range predicates on ANY of
  * the clustered columns (the property q80_zorder_layout measures).
  *
  * The caller maps each clustering column into `[0, 2^bits)` first
  * (modulo for integral ids, width-bucketing for continuous values) — the
  * interleave itself is pure integral arithmetic, stays inside
  * whole-stage codegen, and never shuffles. `cluster` adds the single
  * range exchange that the physical layout requires; `write` seals the
  * layout into parquet files whose footers carry the tight per-file
  * min/max ranges.
  *
  * Everything is UNROLLED fixed-width column arithmetic (shift/and per
  * bit) — whole-stage-codegen'd, no UDF, no higher-order lambda (the
  * q246/q242 CodegenFallback lesson), and bit-exact in any engine with
  * integer shifts, which is what lets q366 hash-match a DuckDB replay of
  * the same layout.
  */
object ZOrder {

  /** Bit-interleave of `cols` (each already in `[0, 2^bits)`): bit `i` of
    * column `j` lands at output position `i * n + j`, most-significant
    * bits first across all columns — the standard Morton code. For two
    * columns x occupies the even bit positions and y the odd ones. The
    * per-bit terms never overlap, so summing them equals OR-ing them.
    * Inputs outside `[0, 2^bits)` fold via masking (callers [[bucket]]
    * continuous values first). */
  def zValue(cols: Seq[Column], bits: Int = 8): Column = {
    require(cols.nonEmpty && cols.size * bits <= 62,
      s"${cols.size} cols x $bits bits exceeds a long")
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ + _)
  }

  /** Equi-width bucket of `v` into [0, 2^bits) given inclusive domain
    * bounds: integer `(v−lo)·2^bits div (hi−lo+1)`. The Column `/` on
    * longs is DOUBLE division, so the integer quotient is built from the
    * identity `a div b = (a − a mod b) / b` — the adjusted numerator is
    * exactly divisible, and an exact-integer quotient of doubles under
    * 2^53 is IEEE-exact, so the cast back to long is bit-stable and
    * matches any engine's integer division (the oracle uses `//`).
    * Callers must keep `(v−lo)·2^bits` under 2^53. */
  def bucket(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    val num = (v - lo) * lit(1L << bits)
    val den = hi - lo + lit(1L)
    ((num - num % den) / den).cast("long")
  }

  /** Repartition by Z-value range and sort each partition by it — the
    * write-side layout step. `numFiles` bounds output file count; row
    * content is untouched (the added Z column is dropped). */
  def cluster(df: DataFrame, cols: Seq[Column], numFiles: Int,
              bits: Int = 8): DataFrame = {
    val z = zValue(cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Cluster and seal to parquet: each output file covers a contiguous
    * Z-range, i.e. a tight rectangle of the clustered key space. */
  def write(df: DataFrame, cols: Seq[Column], numFiles: Int,
            path: String, bits: Int = 8): Unit =
    cluster(df, cols, numFiles, bits)
      .write.mode("overwrite").parquet(path)
}
