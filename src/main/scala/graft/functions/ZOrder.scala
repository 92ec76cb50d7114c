package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleave as a pure Column expression — the
  * clustering key behind multi-dimensional data skipping (Morton 1966;
  * the layout Delta/Iceberg `OPTIMIZE ZORDER BY` and DuckDB's
  * `CREATE INDEX`-free parquet pruning rely on). Sorting rows by the
  * interleaved key makes file- and row-group-level min/max statistics
  * selective on BOTH dimensions at once, where a lexicographic sort is
  * selective only on its leading column. The engine-level consumer is
  * `Extras.writeZorder`; ZOrderSpec measures the actual skipping.
  *
  * Built from shift/mask/or column ops only, so the whole key stays
  * inside whole-stage codegen — no UDF boundary on the write path. At
  * 100 TB the same expression feeds `repartitionByRange` + a
  * within-partition sort: one range shuffle, tight per-file stat
  * envelopes forever after.
  */
object ZOrder {
  /** Interleave the low `bits` bits of `a` (even positions) and `b` (odd
    * positions) into a single non-negative long. Inputs must be
    * non-negative and fit in `bits` bits; 2·bits ≤ 62. */
  def zvalue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** Interleave after scaling each key to the full `bits`-wide domain
    * from its observed [min, max]. Raw interleaving only helps when both
    * dimensions have similar bit widths — a key whose domain is 0..9
    * never reaches the z-key's split prefix next to one spanning 0..2000,
    * so files would cluster on the wide key only. Scaling first (the same
    * reason Delta/Iceberg z-order on per-column range-bucket ranks, not
    * raw values) gives both keys equal say in every split. The min/max
    * come from one cheap stats pass at write time. */
  def zvalueScaled(a: Column, aMin: Long, aMax: Long,
      b: Column, bMin: Long, bMax: Long, bits: Int): Column = {
    val top = (1L << bits) - 1
    def scale(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else ((c - lit(lo)) * lit(top) / lit(hi - lo)).cast("long")
    zvalue(scale(a, aMin, aMax), scale(b, bMin, bMax), bits)
  }
}
