package graft.ingest

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.mars.RoverKeys

/** Batch-document assembly + object-store sink (SURVEY §2.1 S4-S7).
  *
  * The reference concatenates per-task API results into one JSON envelope
  * document and uploads it under a prefix routed by filename
  * (src/ingestion/photos.py:23-48, minio.py:19-46). Here the per-record
  * side stays a DataFrame (one fetch over the whole schedule,
  * `IngestSim.photos`) and the envelope is a one-row DataFrame with an
  * ArrayType payload column — collect_list is sort_array'd so envelope
  * content is deterministic under any partitioning.
  */
object Assemble {

  /** Filenames must be Hadoop-path-safe: strip the colons the reference's
    * MinIO keys carry (ingestion_date keeps the full ISO form as data). */
  private def fnTs(ts: String): String = ts.replace(":", "")

  /** reference: create_final_photos_json (photos.py:23-48): envelope stats
    * come from the REQUESTED sol_range, count from the gathered photos. */
  def photosEnvelope(photos: DataFrame, solRange: Seq[Int], ts: String): DataFrame = {
    val solStart = if (solRange.nonEmpty) solRange.min else 0
    val solEnd = if (solRange.nonEmpty) solRange.max else 0
    photos
      .agg(sort_array(collect_list(struct(
        col("id"), col("sol"), col("camera"), col("img_src"),
        col("earth_date"), col("rover")))).as("photos"))
      .select(
        lit(s"mars_rover_photos_batch_sol_${solStart}_to_${solEnd}_${fnTs(ts)}.json").as("filename"),
        lit(solStart).as("sol_start"),
        lit(solEnd).as("sol_end"),
        size(col("photos")).as("photo_count"),
        col("photos"),
        lit(ts).as("ingestion_date"))
  }

  /** Object-store JSON sink with prefix routing (reference: minio.py:19-46).
    * The envelope is one document by construction, so this is a driver-side
    * single-object write, exactly like the reference's put_object. One
    * collect yields the filename and the JSON text together, so the
    * envelope is computed once. Returns the object key. */
  def uploadJson(envelope: DataFrame, objectStoreRoot: String): String = {
    val docs = envelope.select(col("filename"),
      to_json(struct(envelope.columns.toIndexedSeq.map(col): _*))).collect()
    require(docs.length == 1, s"envelope must be exactly one document, got ${docs.length}")
    val (filename, json) = (docs.head.getString(0), docs.head.getString(1))
    val prefix = RoverKeys.route(filename)
    val dir = Paths.get(objectStoreRoot, prefix)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(filename), json + "\n")
    s"$prefix/$filename"
  }
}
