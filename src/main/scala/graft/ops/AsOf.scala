package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-earlier) join — an operator Spark lacks natively.
  *
  * For each left row, attach the latest right row whose timestamp is <=
  * the left row's, within the same key group (classic telemetry/market-data
  * enrichment). Implemented by composition, per the custom-operator
  * preference ladder: tag both sides, union them, and carry the right
  * side's values forward with `last(_, ignoreNulls)` over a key-partitioned
  * window ordered by (ts, side) — right rows sort before left rows at equal
  * timestamps, so ties match (left.ts >= right.ts).
  *
  * Scale shape: ONE shuffle (hash on the key) + one per-partition sort —
  * the naive range-join formulation explodes to |left|×|right| pairs per
  * key before filtering, which the planner must never see. A hot key
  * lands in one task: the window is partitioned by the key alone.
  *
  * Requirements: non-key column names must be disjoint between the sides
  * (rename before calling); if several right rows share (key, ts), which
  * one wins is unspecified — pre-dedup the right side for determinism.
  */
object AsOf {

  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String): DataFrame = {
    val carryCols = right.columns.filterNot(keys.contains).toSeq
    val leftCols = left.columns.toSeq

    val taggedLeft = carryCols.foldLeft(
      left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))) {
      (df, c) => df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val taggedRight = leftCols.filterNot(keys.contains).foldLeft(
      right.withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    carryCols.foldLeft(taggedLeft.unionByName(taggedRight)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
      .filter(col("__side") === 1)
      .drop("__ts", "__side")
      .select((leftCols ++ carryCols).map(col): _*)
  }

  /** Forward as-of: attach the EARLIEST right row with ts >= the left
    * row's (pandas merge_asof direction='forward'), optionally bounded by
    * `toleranceSec` — a match farther than the tolerance is nulled, which
    * is the semantics telemetry wants for "next error after this click,
    * if within the hour". Same one-shuffle composition as [[joinAsOf]],
    * mirrored: `first(_, ignoreNulls)` over [current, +∞) with left rows
    * sorting BEFORE right rows at equal timestamps so ties match. The
    * right timestamp rides along as a carried column for the tolerance
    * mask (and is dropped again). Pre-dedup the right side on (keys, ts)
    * for a deterministic winner. */
  def joinAsOfForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String,
                      toleranceSec: Option[Long] = None): DataFrame = {
    val carryCols = right.columns.filterNot(keys.contains).toSeq
    val leftCols = left.columns.toSeq
    val rightPlus = right.withColumn("__rts", col(rightTs))
    val carry = carryCols :+ "__rts"

    val taggedLeft = carry.foldLeft(
      left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(0))) {
      (df, c) =>
        val dt = if (c == "__rts") right.schema(rightTs).dataType
                 else right.schema(c).dataType
        df.withColumn(c, lit(null).cast(dt))
    }
    val taggedRight = leftCols.filterNot(keys.contains).foldLeft(
      rightPlus.withColumn("__ts", col(rightTs)).withColumn("__side", lit(1))) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val carried = carry.foldLeft(taggedLeft.unionByName(taggedRight)) {
      (df, c) => df.withColumn(c, first(col(c), ignoreNulls = true).over(w))
    }.filter(col("__side") === 0)

    val masked = toleranceSec match {
      case Some(tol) =>
        // exact microsecond compare: a seconds-truncating diff admits
        // matches up to a second beyond the tolerance at the boundary.
        // The family works on any ordered ts; for NUMERIC timestamps the
        // tolerance is in the column's own units (raw subtraction —
        // unix_micros would fail analysis), for real timestamps in
        // seconds as the name says (ADVICE r4).
        val within = right.schema(rightTs).dataType match {
          case _: org.apache.spark.sql.types.NumericType =>
            col("__rts") - col("__ts") <= tol
          case _ =>
            unix_micros(col("__rts")) - unix_micros(col("__ts")) <=
              tol * 1000000L
        }
        val ok = col("__rts").isNotNull && within
        carryCols.foldLeft(carried.withColumn("__ok", ok)) {
          (df, c) => df.withColumn(c, when(col("__ok"), col(c)))
        }.drop("__ok")
      case None => carried
    }
    masked.drop("__ts", "__side", "__rts")
      .select((leftCols ++ carryCols).map(col): _*)
  }

  /** Nearest as-of (pandas merge_asof direction='nearest'), completing
    * the family: each left row takes whichever right row is closer in
    * time, earlier or later; exact ties go BACKWARD (the earlier row) —
    * a documented rule both engines apply identically. The plan is the
    * family's best: ONE union, ONE shuffle, ONE sort, and both
    * candidates come from two frames over the same window (last-non-null
    * over (-∞, current], first-non-null over (current+1, +∞)) — the
    * nearest join costs exactly what one directional join costs. Adds a
    * `matched_dir` column ('backward'/'forward'/null). Pre-dedup the
    * right side on (keys, ts) for a deterministic winner. */
  def joinAsOfNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String): DataFrame = {
    val carryCols = right.columns.filterNot(keys.contains).toSeq
    val leftCols = left.columns.toSeq
    val rightPlus = right.withColumn("__rts", col(rightTs))
    val carry = carryCols :+ "__rts"

    val taggedLeft = carry.foldLeft(
      left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))) {
      (df, c) =>
        val dt = if (c == "__rts") right.schema(rightTs).dataType
                 else right.schema(c).dataType
        df.withColumn(c, lit(null).cast(dt))
    }
    val taggedRight = leftCols.filterNot(keys.contains).foldLeft(
      rightPlus.withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val w0 = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
    val wPrev = w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w0.rowsBetween(1, Window.unboundedFollowing)

    val both = carry.foldLeft(taggedLeft.unionByName(taggedRight)) { (df, c) =>
      df.withColumn(s"__b_$c", last(col(c), ignoreNulls = true).over(wPrev))
        .withColumn(s"__f_$c", first(col(c), ignoreNulls = true).over(wNext))
    }.filter(col("__side") === 1)

    val chooseB = col("__f___rts").isNull ||
      (col("__b___rts").isNotNull &&
        (col("__ts") - col("__b___rts")) <= (col("__f___rts") - col("__ts")))
    val picked = carryCols.foldLeft(both) { (df, c) =>
      df.withColumn(c, when(chooseB, col(s"__b_$c")).otherwise(col(s"__f_$c")))
    }.withColumn("matched_dir",
      when(col("__b___rts").isNull && col("__f___rts").isNull,
        lit(null).cast("string"))
        .when(chooseB, "backward").otherwise("forward"))

    picked.select((leftCols ++ carryCols :+ "matched_dir").map(col): _*)
  }
}
