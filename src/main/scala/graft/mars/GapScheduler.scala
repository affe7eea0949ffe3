package graft.mars

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.ControlPlane

/** The closed feedback loop's scheduler half (SURVEY §2.1 S13-S14):
  * gap-view rows → next ingestion batch → fan-out task list + dense sol
  * range, serialized as the `ingestion-scheduling` control message.
  */
object GapScheduler {

  /** reference: src/config.py:32 (BATCH_SIZE = 200, applied as LIMIT). */
  val BatchSize = 200

  final case class IngestionTask(rover_name: String, sol: Int)

  /** A gap row's (rover_name, sol); a manifest sol may lack either. */
  type GapKey = (Option[String], Option[Int])

  /** A (rover_name, sol) row as a [[GapKey]]. */
  def gapKey(r: Row): GapKey = (Option(r.getString(0)), Option(r.get(1)).map(_.asInstanceOf[Int]))

  /** [[nextBatch]]'s order: rover_name, then sol, ascending, nulls first,
    * names compared as Spark compares strings (by their UTF-8 bytes). */
  val gapOrder: Ordering[GapKey] =
    Ordering.by[GapKey, (Option[UTF8String], Option[Int])] { case (r, s) =>
      (r.map(UTF8String.fromString), s)
    }

  final case class IngestionSchedule(tasks: Seq[IngestionTask], sol_range: Seq[Int]) {
    /** reference payload shape: src/utils/snowflake.py:104-111. */
    def toJson: String = {
      val taskJson = tasks.map(t =>
        s"""{"rover_name":${ControlPlane.jsonString(t.rover_name)},"sol":${t.sol}}""")
        .mkString("[", ",", "]")
      s"""{"ingestion_schedule":{"tasks":$taskJson,"sol_range":${sol_range.mkString("[", ",", "]")}}}"""
    }
  }

  /** reference: src/utils/snowflake.py:68-88 — SELECT rover_name, sol FROM
    * VALIDATION_PHOTO_GAPS LIMIT 200. The reference's LIMIT is unordered
    * (nondeterministic batch pick); we pin an ORDER BY for reproducibility
    * (SURVEY §7.3 decision). A row without a rover or a sol names no
    * fetch and is skipped before the limit: it sorts first and would
    * otherwise head every batch. */
  def nextBatch(validationPhotoGaps: DataFrame): DataFrame =
    validationPhotoGaps
      .select(col("rover_name"), col("sol"))
      .filter(col("rover_name").isNotNull && col("sol").isNotNull)
      .orderBy(col("rover_name"), col("sol"))
      .limit(BatchSize)

  /** reference: src/utils/snowflake.py:90-113 — one task per gap row plus a
    * dense [min..max] sol range across the batch (snowflake.py:94). The
    * collect is bounded by BatchSize (≤200 rows) so driver-side fan-out is
    * safe at any data scale. */
  def schedule(batch: DataFrame): IngestionSchedule =
    schedule(batch.collect().toSeq.map(gapKey))

  /** The same from gap keys in [[nextBatch]] order, such as the gap set
    * `Warehouse.gapKeys` maintains: the first BatchSize keys that name
    * a rover and a sol. */
  def schedule(gaps: Seq[GapKey]): IngestionSchedule = {
    val tasks = gaps.iterator.collect { case (Some(r), Some(s)) => IngestionTask(r, s) }
      .take(BatchSize).toSeq
    val solRange =
      if (tasks.isEmpty) Seq.empty[Int]
      else (tasks.map(_.sol).min to tasks.map(_.sol).max).toSeq
    IngestionSchedule(tasks, solRange)
  }
}
