package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.mars.{GapScheduler, Schemas}

/** Deterministic stand-in for the NASA photo API (SURVEY §2.1 S1-S3): this
  * environment has zero egress, so the per-(rover, sol) fetch is a pure
  * function. Error semantics mirror the reference exactly — any failure
  * (here: unknown rover) yields no rows, never an exception
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

  /** The fetches of one schedule as one DataFrame of Schemas.photo: the
    * tasks are spread over at most `defaultParallelism` slices and each
    * slice runs its fetches in turn, so a schedule costs one Spark task
    * per core, not one per (rover, sol). The envelope sorts what it
    * collects, so its content does not depend on this partitioning. */
  def photos(spark: SparkSession, tasks: Seq[GapScheduler.IngestionTask]): DataFrame = {
    val slices = math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    spark.createDataFrame(
      spark.sparkContext.parallelize(tasks, slices).flatMap(t => fetch(t.rover_name, t.sol)),
      Schemas.photo)
  }

  /** GET rovers/{rover}/photos?sol={sol} → rows of Schemas.photo; an
    * unknown rover is an error, which yields no rows and never throws (S1). */
  private def fetch(rover: String, sol: Int): Seq[Row] =
    camerasByRover.get(rover) match {
      case None => Seq.empty
      case Some(cams) =>
        val rid = roverIds(rover)
        cams.zipWithIndex.map { case ((camId, camName, camFull), i) =>
          val imageId = rid * 1000000 + sol * 10 + i
          val sclk = 600000000L + sol.toLong * 86400 + i
          Row(
            imageId, sol,
            Row(camId, camName, rid, camFull),
            f"https://mars.nasa.gov/$rover/$camName/${camName}_${sol}%05d_${sclk}%010d_EDR.JPG",
            landingByRover(rover), // earth_date: fixed per rover (sim)
            Row(rid, rover, landingByRover(rover), landingByRover(rover), "active"))
        }
    }
}
