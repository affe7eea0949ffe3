package graft

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.mars.Validation

/** The gap view's left-anti form against the reference's own shape (the
  * left outer join to the aggregated actuals, then `IS NULL`), on inputs
  * with duplicate and null keys on both sides, under either build side
  * the view picks. */
class ValidationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** models/staging/validation_photo_gaps.sql as written: the oracle. */
  private def referenceGaps(flatManifestPhotos: DataFrame, flatPhotos: DataFrame): DataFrame = {
    val manifestSolData = flatManifestPhotos.select(
      col("rover_name"), col("sol"), col("earth_date"),
      col("manifest_total_photos"), col("manifest_camera_count"))
    val actualSolData = flatPhotos
      .groupBy(col("rover_name"), col("earth_date"), col("sol"))
      .agg(
        countDistinct(col("camera_id")).as("actual_camera_count"),
        count(col("image_id")).as("actual_total_photos"))
      .select(col("rover_name").as("a_rover_name"), col("sol").as("a_sol"),
        col("actual_camera_count"), col("actual_total_photos"))
    manifestSolData
      .join(actualSolData,
        col("rover_name") === col("a_rover_name") && col("sol") === col("a_sol"),
        "left_outer")
      .filter(col("a_rover_name").isNull)
      .select(
        col("rover_name"),
        col("sol"),
        col("earth_date"),
        col("manifest_total_photos"),
        coalesce(col("actual_total_photos"), lit(0L)).as("actual_total_photos"),
        (col("manifest_total_photos") - coalesce(col("actual_total_photos"), lit(0L)))
          .as("photo_count_diff"),
        col("manifest_camera_count"),
        coalesce(col("actual_camera_count"), lit(0L)).as("actual_camera_count"),
        (col("manifest_camera_count") - coalesce(col("actual_camera_count"), lit(0L)))
          .as("camera_count_diff"),
        when(col("a_rover_name").isNull, "MISSING_SOL")
          .when(col("manifest_total_photos") =!= coalesce(col("actual_total_photos"), lit(0L)),
            "PHOTO_COUNT_MISMATCH")
          .when(col("manifest_camera_count") =!= coalesce(col("actual_camera_count"), lit(0L)),
            "CAMERA_COUNT_MISMATCH")
          .otherwise("VALID").as("validation_status"),
        current_timestamp().as("validation_timestamp"))
      .orderBy(col("sol"))
  }

  private def date(d: Int) = Date.valueOf(f"2024-01-$d%02d")

  // (rover_name, sol, earth_date, manifest_total_photos, manifest_camera_count)
  private def manifest: DataFrame = {
    import spark.implicits._
    Seq[(Option[String], Option[Int], Date, Option[Int], Int)](
      (Some("Curiosity"), Some(1), date(1), Some(4), 2), // covered
      (Some("Curiosity"), Some(2), date(2), Some(3), 2), // covered, photos on two dates
      (Some("Curiosity"), Some(3), date(3), Some(5), 3), // a gap, declared twice
      (Some("Curiosity"), Some(3), date(3), Some(5), 3),
      (Some("Curiosity"), None, date(4), Some(1), 1), // null sol: never covered
      (None, Some(4), date(4), Some(2), 1), // null rover: never covered
      (Some("Spirit"), Some(1), date(1), None, 1), // only a null-rover photo on sol 1
      (Some("Spirit"), Some(5), date(5), Some(2), 2), // only a null-sol Spirit photo
      (Some("Perseverance"), Some(1), date(1), Some(3), 1) // covered, duplicate photos
    ).toDF("rover_name", "sol", "earth_date", "manifest_total_photos", "manifest_camera_count")
  }

  // (rover_name, sol, earth_date, camera_id, image_id)
  private def photos: DataFrame = {
    import spark.implicits._
    Seq[(Option[String], Option[Int], Date, Int, Long)](
      (Some("Curiosity"), Some(1), date(1), 10, 1L),
      (Some("Curiosity"), Some(1), date(1), 11, 2L),
      (Some("Curiosity"), Some(2), date(2), 10, 3L),
      (Some("Curiosity"), Some(2), date(6), 11, 4L),
      (None, Some(1), date(1), 10, 5L),
      (None, Some(4), date(4), 10, 6L),
      (Some("Spirit"), None, date(5), 20, 7L),
      (Some("Perseverance"), Some(1), date(1), 30, 8L),
      (Some("Perseverance"), Some(1), date(1), 30, 8L),
      (Some("Perseverance"), Some(1), date(1), 30, 8L)
    ).toDF("rover_name", "sol", "earth_date", "camera_id", "image_id")
  }

  private def withBroadcastThreshold[T](value: Option[String])(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    value.foreach(spark.conf.set(key, _))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def assertEqualsReference(): SparkPlan = {
    val (got, want) = (Validation.validationPhotoGaps(manifest, photos),
      referenceGaps(manifest, photos))
    assert(got.schema == want.schema)
    def rows(df: DataFrame) =
      df.drop("validation_timestamp").collect().toSeq.map(_.toSeq.mkString("|")).sorted
    val gotRows = rows(got)
    assert(gotRows == rows(want))
    assert(gotRows.size == 6, gotRows)
    // ordered by sol, nulls first
    val sols = got.select("sol").collect().toSeq.map(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
    assert(sols == sols.sortBy(_.getOrElse(Int.MinValue)))
    got.queryExecution.executedPlan
  }

  private def antiJoins(plan: SparkPlan): Seq[BaseJoinExec] =
    collect(plan) { case j: BaseJoinExec if j.joinType == LeftAnti => j }

  test("gap view equals the reference's left-outer form; small photo keys are broadcast") {
    withBroadcastThreshold(None) {
      val plan = assertEqualsReference()
      val joins = antiJoins(plan)
      assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec], plan)
      assert(collect(plan) { case a: HashAggregateExec => a }.isEmpty, plan)
    }
  }

  test("gap view equals the reference's left-outer form; unbroadcast photo keys are deduplicated first") {
    withBroadcastThreshold(Some("-1")) {
      val plan = assertEqualsReference()
      val joins = antiJoins(plan)
      assert(joins.size == 1 && !joins.head.isInstanceOf[BroadcastHashJoinExec], plan)
      assert(collect(joins.head.right) { case a: HashAggregateExec => a }.nonEmpty, plan)
    }
  }
}
