package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.mars.Schemas

/** Deterministic stand-in for the NASA photo API (SURVEY §2.1 S1-S3): this
  * environment has zero egress, so the per-(rover, sol) fetch is a pure
  * function. Error semantics mirror the reference exactly — any failure
  * (here: unknown rover) yields a typed EMPTY relation, never an exception
  * (photos.py:19-21).
  */
object IngestSim {

  val roverIds = Map("Perseverance" -> 8, "Curiosity" -> 5,
    "Opportunity" -> 6, "Spirit" -> 7)

  private val camerasByRover = Map(
    "Perseverance" -> Seq((101, "NAVCAM_LEFT", "Navigation Camera - Left"),
      (102, "MCZ_RIGHT", "Mast Camera Zoom - Right")),
    "Curiosity" -> Seq((201, "FHAZ", "Front Hazard Avoidance Camera"),
      (202, "MAST", "Mast Camera")),
    "Opportunity" -> Seq((301, "PANCAM", "Panoramic Camera")),
    "Spirit" -> Seq((401, "PANCAM", "Panoramic Camera")))

  private val landingByRover = Map(
    "Perseverance" -> "2021-02-18", "Curiosity" -> "2012-08-05",
    "Opportunity" -> "2004-01-25", "Spirit" -> "2004-01-04")

  /** GET rovers/{rover}/photos?sol={sol} → rows of Schemas.photo. */
  def photos(spark: SparkSession, rover: String, sol: Int): DataFrame =
    camerasByRover.get(rover) match {
      case None => // error → empty relation, never fail (S1)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.photo)
      case Some(cams) =>
        val rid = roverIds(rover)
        val rows = cams.zipWithIndex.map { case ((camId, camName, camFull), i) =>
          val imageId = rid * 1000000 + sol * 10 + i
          val sclk = 600000000L + sol.toLong * 86400 + i
          Row(
            imageId, sol,
            Row(camId, camName, rid, camFull),
            f"https://mars.nasa.gov/$rover/$camName/${camName}_${sol}%05d_${sclk}%010d_EDR.JPG",
            landingByRover(rover), // earth_date: fixed per rover (sim)
            Row(rid, rover, landingByRover(rover), landingByRover(rover), "active"))
        }
        // one partition per fetch: a (rover, sol) task is one API call
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.photo)
    }
}
