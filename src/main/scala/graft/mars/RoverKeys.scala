package graft.mars

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared key-derivation column expressions.
  *
  * The reference triplicates the rover_name→rover_id CASE verbatim in three
  * models (dim_rovers.sql:7-13, dim_cameras.sql:7-13, fact_path.sql:7-13);
  * here it is one function. All of these are pure Column expressions — not
  * UDFs — so Catalyst constant-folds and codegens them (SURVEY §2.11).
  */
object RoverKeys {

  /** reference: dim_rovers.sql:7-13 (4-way CASE, default 0). */
  def roverId(roverName: Column): Column =
    when(roverName === "Perseverance", 8)
      .when(roverName === "Spirit", 7)
      .when(roverName === "Opportunity", 6)
      .when(roverName === "Curiosity", 5)
      .otherwise(0)

  /** Exact membership lists from dim_cameras.sql:16-33. */
  val engineeringCameras: Seq[String] = Seq(
    "NAVCAM_LEFT", "NAVCAM_RIGHT", "FRONT_HAZCAM_LEFT_A", "FRONT_HAZCAM_RIGHT_A",
    "REAR_HAZCAM_LEFT", "REAR_HAZCAM_RIGHT",
    "NAVCAM", "FHAZ", "RHAZ", "FHAZ_LEFT_B", "FHAZ_RIGHT_B", "RHAZ_LEFT_B",
    "RHAZ_RIGHT_B", "NAV_RIGHT_B", "NAV_LEFT_B",
    "PANCAM")

  val scienceCameras: Seq[String] = Seq(
    "MCZ_RIGHT", "MCZ_LEFT", "SHERLOC_WATSON", "SUPERCAM_RMI", "SKYCAM",
    "MINITES",
    "CHEMCAM", "CHEMCAM_RMI", "MAST", "MAST_LEFT", "MAST_RIGHT", "MAHLI")

  val edlCameras: Seq[String] = Seq(
    "EDL_RUCAM", "EDL_RDCAM", "EDL_PUCAM1", "EDL_PUCAM2", "EDL_DDCAM",
    "ENTRY",
    "MARDI")

  /** reference: dim_cameras.sql:16-33 (set-membership bucketing). */
  def cameraCategory(cameraName: Column): Column =
    when(cameraName.isin(engineeringCameras: _*), "Engineering")
      .when(cameraName.isin(scienceCameras: _*), "Science")
      .when(cameraName.isin(edlCameras: _*), "Entry, Descent, and Landing")
      .otherwise("Other")

  /** reference: fact_path.sql:20-29 (3-tier drive-length bucketing; note
    * the CASE reads the RAW length — NULL/0 → Stationary — while the
    * selected length column is COALESCEd; preserve both). */
  def dayType(rawLength: Column): Column =
    when(rawLength.isNull || rawLength === 0, "Stationary")
      .when(rawLength < 5, "Minimal Movement")
      .when(rawLength < 20, "Short Travel")
      .otherwise("Long Travel")

  /** Filename-prefix routing, used by both the object-store sink and the
    * bronze loader (reference: src/utils/minio.py:26-34,
    * src/utils/snowflake.py:31-39). */
  def route(filename: String): String =
    if (filename.startsWith("mars_rover_photos")) "photos"
    else if (filename.startsWith("mars_rover_coordinates")) "coordinates"
    else if (filename.startsWith("mars_rover_manifests")) "manifests"
    else "UNKNOWN"
}
