package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout: interleave the bits of two dimension columns
  * so sorting by ONE derived key co-locates value ranges of BOTH — parquet
  * row-group min/max stats then prune point/range queries on either
  * column, where a plain sort only serves its leading column. The
  * missing piece between cluster_by (one dimension) and bucketing (equi
  * only); Delta/Iceberg expose the same idea as OPTIMIZE ZORDER.
  *
  * The key is plain integer arithmetic (shifts, masks, adds) — portable
  * to any engine, hence oracle-checkable — and assumes non-negative
  * inputs that fit in `bits` bits (callers range-normalize first; at
  * 100 TB that's a percentile-based binning pass).
  */
object ZOrder {

  /** Morton key of two non-negative ints using the low `bits` of each, in
    * long arithmetic: bit i of `a` lands on bit 2i+1, past an int's 31. */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits in 1..31")
    val (la, lb) = (a.cast("long"), b.cast("long"))
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(la, i).bitwiseAND(lit(1L)), 2 * i + 1),
        shiftleft(shiftright(lb, i).bitwiseAND(lit(1L)), 2 * i))
    }
    terms.reduce(_ + _)
  }

  /** The same key as engine-portable SQL (for oracles / other engines). */
  def zorderKeySql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i + 1})", s"((($b >> $i) & 1) << ${2 * i})")
    }.mkString("CAST((", " + ", ") AS BIGINT)")
}
