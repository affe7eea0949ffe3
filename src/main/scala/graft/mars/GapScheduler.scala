package graft.mars

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The closed feedback loop's scheduler half (SURVEY §2.1 S13-S14):
  * gap-view rows → next ingestion batch → fan-out task list + dense sol
  * range, serialized as the `ingestion-scheduling` control message.
  */
object GapScheduler {

  /** reference: src/config.py:32 (BATCH_SIZE = 200, applied as LIMIT). */
  val BatchSize = 200

  final case class IngestionTask(rover_name: String, sol: Int)

  final case class IngestionSchedule(tasks: Seq[IngestionTask], sol_range: Seq[Int]) {
    /** reference payload shape: src/utils/snowflake.py:104-111. */
    def toJson: String = {
      val taskJson = tasks.map(t =>
        s"""{"rover_name":"${t.rover_name}","sol":${t.sol}}""").mkString("[", ",", "]")
      s"""{"ingestion_schedule":{"tasks":$taskJson,"sol_range":${sol_range.mkString("[", ",", "]")}}}"""
    }
  }

  /** reference: src/utils/snowflake.py:68-88 — SELECT rover_name, sol FROM
    * VALIDATION_PHOTO_GAPS LIMIT 200. The reference's LIMIT is unordered
    * (nondeterministic batch pick); we pin an ORDER BY for reproducibility
    * (SURVEY §7.3 decision). */
  def nextBatch(validationPhotoGaps: DataFrame): DataFrame =
    validationPhotoGaps
      .select(col("rover_name"), col("sol"))
      .orderBy(col("rover_name"), col("sol"))
      .limit(BatchSize)

  /** reference: src/utils/snowflake.py:90-113 — one task per gap row plus a
    * dense [min..max] sol range across the batch (snowflake.py:94). The
    * collect is bounded by BatchSize (≤200 rows) so driver-side fan-out is
    * safe at any data scale. */
  def schedule(batch: DataFrame): IngestionSchedule = {
    val rows = batch.collect()
    val tasks = rows.map(r => IngestionTask(r.getString(0), r.getInt(1))).toSeq
    val solRange =
      if (tasks.isEmpty) Seq.empty[Int]
      else (tasks.map(_.sol).min to tasks.map(_.sol).max).toSeq
    IngestionSchedule(tasks, solRange)
  }
}
