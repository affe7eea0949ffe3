package graft.mars

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Materialized (incremental) variant of the medallion pipeline: bronze
  * parquet tables → silver/gold parquet tables with the reference's dbt
  * materialization configs applied 1:1 (SURVEY §2.9):
  *
  *  | model                      | strategy | unique_key          | cluster_by |
  *  | flat_photo_response        | append   | (declared, no dedup)| rover_id, sol, earth_date |
  *  | flat_manifest_response     | merge    | rover_name          | rover_name |
  *  | flat_manifest_photos       | merge    | rover_name, sol     | rover_name, sol |
  *  | flat_coordinate_response   | merge    | rover_name, sol     | rover_name, sol |
  *  | photo_summary / daily_activity / camera_travel_correlation | append | — | per model |
  *
  * Views (dims/facts/validation) stay lazy — recomputed per query.
  * `MarsPipeline` is the view-only variant over raw fixtures; this is the
  * stateful store the orchestration loop writes through.
  *
  * reference: the dbt config blocks at
  * dbt/martian_moments/models/staging/flat_photo_response.sql:1-7 (append),
  * flat_manifest_response.sql:1-7 / flat_manifest_photos.sql:1-7 /
  * flat_coordinate_response.sql:1-7 (merge + unique_key), and the three
  * mart models' `:1-7` headers (append + cluster_by).
  */
final case class Warehouse(spark: SparkSession, root: String) {

  val bronzePhotos = s"$root/bronze/raw_photo_response"
  val bronzeManifests = s"$root/bronze/raw_manifest_response"
  val bronzeCoordinates = s"$root/bronze/raw_coordinate_response"

  val silverFlatPhotos = s"$root/silver/flat_photo_response"
  val silverFlatManifest = s"$root/silver/flat_manifest_response"
  val silverFlatManifestPhotos = s"$root/silver/flat_manifest_photos"
  val silverFlatCoordinates = s"$root/silver/flat_coordinate_response"

  val goldPhotoSummary = s"$root/gold/photo_summary"
  val goldDailyActivity = s"$root/gold/daily_activity"
  val goldCameraTravel = s"$root/gold/camera_travel_correlation"

  // A silver table is read pinned to its model's output schema over no
  // bronze; before its first build it reads as that empty model.
  private def noBronze(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  private lazy val manifestModel =
    Silver.flatManifestResponse(noBronze(Schemas.manifestBatch))
  private def readPinned(path: String, schema: StructType): Option[DataFrame] =
    Option.when(Incremental.exists(spark, path))(Incremental.read(spark, path, Some(schema)))
  private def readOr(path: String, model: DataFrame): DataFrame =
    readPinned(path, model.schema).getOrElse(model)

  /** Bronze loader (S9): one routed JSON object → typed append. */
  def loadBronze(objectPath: String, filename: String): String = {
    RoverKeys.route(filename) match {
      case "photos" =>
        Bronze.rawPhotoResponse(spark, objectPath)
          .write.mode("append").parquet(bronzePhotos)
        bronzePhotos
      case "coordinates" =>
        Bronze.rawCoordinateResponse(spark, objectPath)
          .write.mode("append").parquet(bronzeCoordinates)
        bronzeCoordinates
      case "manifests" =>
        Bronze.rawManifestResponse(spark, objectPath)
          .write.mode("append").parquet(bronzeManifests)
        bronzeManifests
      case _ => "UNKNOWN" // reference logs + skips unknown files
    }
  }

  /** dbt run --select tag:flatten equivalent (EP2 first stage). Each
    * bronze table is read once, pinned to its batch schema. */
  def buildSilver(): Unit = {
    readPinned(bronzePhotos, Schemas.photoBatch).foreach(raw =>
      Incremental.appendIncremental(spark, silverFlatPhotos,
        Silver.flatPhotoResponse(raw),
        clusterBy = Seq("rover_id", "sol", "earth_date")))
    readPinned(bronzeManifests, Schemas.manifestBatch).foreach { raw =>
      val manifests = Silver.flatManifestResponse(raw)
      Incremental.mergeIncremental(spark, silverFlatManifest, manifests,
        keys = Seq("rover_name"), clusterBy = Seq("rover_name"))
      // flatten-inner: orphaned tag in the reference, but a hard dependency
      // of the validation view — built here (SURVEY §7.3 decision). Fed
      // from the same bronze read: its watermark slice is the manifests
      // the merge above just took in.
      Incremental.mergeIncremental(spark, silverFlatManifestPhotos,
        Silver.flatManifestPhotos(manifests),
        keys = Seq("rover_name", "sol"), clusterBy = Seq("rover_name", "sol"))
    }
    readPinned(bronzeCoordinates, Schemas.coordinateBatch).foreach(raw =>
      Incremental.mergeIncremental(spark, silverFlatCoordinates,
        Silver.flatCoordinateResponse(raw),
        keys = Seq("rover_name", "sol"), clusterBy = Seq("rover_name", "sol")))
    // retention: a merge table gains a version only in a cycle whose
    // bronze brought it new rows (an empty watermark slice publishes
    // nothing) — keep current + one grace version so disk stays bounded
    // instead of growing one full snapshot per such batch. "Two versions"
    // alone is NOT a reader grace under a fast trigger (sub-second batches
    // would sweep a snapshot mid-scan), so the wall-clock grace below is
    // what actually protects a concurrent reader of the public warehouse
    // views — a pinned version is deletable only after it is BOTH
    // superseded twice and 10 minutes cold, the Delta VACUUM retention shape.
    Seq(silverFlatManifest, silverFlatManifestPhotos, silverFlatCoordinates)
      .foreach(t => Incremental.vacuum(spark, t, keep = 2,
        minAgeMs = 10L * 60 * 1000))
  }

  // lazy views over the materialized silver
  def flatPhotos: DataFrame = readOr(silverFlatPhotos,
    Silver.flatPhotoResponse(noBronze(Schemas.photoBatch)))
  def flatManifest: DataFrame = readOr(silverFlatManifest, manifestModel)
  def flatManifestPhotos: DataFrame = readOr(silverFlatManifestPhotos,
    Silver.flatManifestPhotos(manifestModel))
  def flatCoordinates: DataFrame = readOr(silverFlatCoordinates,
    Silver.flatCoordinateResponse(noBronze(Schemas.coordinateBatch)))

  def dimRovers: DataFrame = Dims.dimRovers(flatManifest)
  def dimCameras: DataFrame = Dims.dimCameras(flatManifest)
  def factPhotos: DataFrame = Facts.factPhotos(flatPhotos)
  def factPath: DataFrame = Facts.factPath(flatCoordinates)
  def validationPhotoGaps: DataFrame =
    Validation.validationPhotoGaps(flatManifestPhotos, flatPhotos)

  /** dbt run --select tag:aggregate equivalent (EP2 second stage). The
    * three silver inputs are read once and shared by the three marts. */
  def buildGold(): Unit = {
    val manifest = flatManifest
    val (rovers, cameras) = (Dims.dimRovers(manifest), Dims.dimCameras(manifest))
    val (photos, path) = (factPhotos, factPath)
    Incremental.appendIncremental(spark, goldPhotoSummary,
      Marts.photoSummary(rovers), clusterBy = Seq("rover_name"))
    Incremental.appendIncremental(spark, goldDailyActivity,
      Marts.dailyActivity(photos, rovers, cameras, path),
      clusterBy = Seq("rover_name", "sol_number"))
    Incremental.appendIncremental(spark, goldCameraTravel,
      Marts.cameraTravelCorrelation(photos, rovers, cameras, path),
      clusterBy = Seq("rover_name", "sol_number"))
  }
}
