package graft.mars

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.AutoBroadcast

/** Gap-detection view (SURVEY §2: A1, J2, O1) — the engine's data-quality
  * reconciliation AND the scheduler's work queue (closed feedback loop).
  */
object Validation {

  /** reference: models/staging/validation_photo_gaps.sql.
    *
    * The reference LEFT JOINs the manifest-declared per-sol stats to the
    * ingested actuals aggregated by (rover_name, earth_date, sol), on
    * (rover_name, sol), and keeps `WHERE a.rover_name IS NULL`: only
    * manifest sols with no photo survive, so the view is a left anti-join
    * of the manifest sols against the photos' (rover_name, sol) keys, and
    * it is computed as one. Its output is the reference's exactly (SURVEY
    * §7.4.3): on a surviving row the COALESCEd actuals are always 0, each
    * diff is the manifest value minus 0 (still `bigint`) and the 4-way
    * CASE always takes its MISSING_SOL branch, so those columns are
    * written as those values.
    *
    * Scale: the photo keys are the build side. When Catalyst's estimate
    * of them fits the session's broadcast threshold
    * ([[AutoBroadcast.decideFrom]]) they are broadcast as they are, and
    * the view runs as a broadcast build plus the probe, with no shuffle
    * and no aggregate. Otherwise they are deduplicated first: a partial
    * plus final hash aggregate shrinks the photo side to sol grain before
    * the join's shuffle, so at 100 TB both join inputs are sol-grain, not
    * photo-grain.
    */
  def validationPhotoGaps(flatManifestPhotos: DataFrame, flatPhotos: DataFrame): DataFrame =
    missingSols(flatManifestPhotos, flatPhotos)
      .select(
        col("rover_name"),
        col("sol"),
        col("earth_date"),
        col("manifest_total_photos"),
        lit(0L).as("actual_total_photos"),
        (col("manifest_total_photos") - lit(0L)).as("photo_count_diff"),
        col("manifest_camera_count"),
        lit(0L).as("actual_camera_count"),
        (col("manifest_camera_count") - lit(0L)).as("camera_count_diff"),
        lit("MISSING_SOL").as("validation_status"),
        current_timestamp().as("validation_timestamp"))
      .orderBy(col("sol"))

  /** The view's rows before its projection and ORDER BY: the manifest
    * sols that no photo's (rover_name, sol) matches. With the photo keys
    * broadcast, collecting it runs two jobs, the broadcast and the
    * collect; the view's global sort would add a sampling and a shuffle
    * job. */
  def missingSols(flatManifestPhotos: DataFrame, flatPhotos: DataFrame): DataFrame = {
    val photoKeys = flatPhotos.select(col("rover_name"), col("sol"))
    val covered =
      if (AutoBroadcast.decideFrom(photoKeys)) broadcast(photoKeys) else photoKeys.distinct()
    flatManifestPhotos.join(covered, Seq("rover_name", "sol"), "left_anti")
  }
}
