package graft.mars

import java.security.MessageDigest
import java.util.HexFormat

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
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
  * Incremental by file, not by watermark (SURVEY §7.4, item 5a): silver and
  * gold each keep an [[OffsetLog]] (`$root/_checkpoints/silver`, `/gold`)
  * of the input files they have consumed, and a batch reads only the files
  * not in it. Both builds therefore cost O(batch), run no `max()` scan,
  * and with nothing new run no Spark job at all; a batch stamped in the same
  * second as the one before is kept, where the reference's strict `>` on
  * `ingestion_date` drops it. Appends publish batch n as `b<n>-*` files
  * renamed in from a hidden stage dir, merges record n in the snapshot
  * meta, so re-running a batch whose commit entry is missing neither loses
  * nor duplicates rows. A bronze load is tagged by its object path, so a
  * replayed `minio-events` record loads the object once.
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

  private lazy val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  // the offset logs sit outside the table roots: a batch that writes
  // nothing to a table leaves no file under it
  private lazy val silverLog = OffsetLog(spark, s"$root/_checkpoints/silver")
  private lazy val goldLog = OffsetLog(spark, s"$root/_checkpoints/gold")

  // A silver table is read pinned to its model's output schema over no
  // bronze; before its first build it reads as that empty model.
  private def noBronze(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  private lazy val manifestModel =
    Silver.flatManifestResponse(noBronze(Schemas.manifestBatch))
  private lazy val manifestPhotosModel = Silver.flatManifestPhotos(manifestModel)
  private lazy val photoModel = Silver.flatPhotoResponse(noBronze(Schemas.photoBatch))
  private lazy val coordinateModel =
    Silver.flatCoordinateResponse(noBronze(Schemas.coordinateBatch))
  private def readPinned(path: String, schema: StructType): Option[DataFrame] =
    Option.when(Incremental.exists(spark, path))(Incremental.read(spark, path, Some(schema)))
  private def readOr(path: String, model: DataFrame): DataFrame =
    readPinned(path, model.schema).getOrElse(model)

  /** Bronze loader (S9): one routed JSON object → typed append, published
    * the way a batch append is (see [[appendStaged]]) from a stage
    * directory of its own. Loads therefore share no Spark job-attempt
    * directory: what a load that died while committing left under the
    * root's `_temporary/` is not merged by the next load's job commit.
    *
    * The load's tag is a digest of the object path, so loading an object
    * again — `startLoadStream`'s `foreachBatch` is at-least-once and may
    * replay a `minio-events` record — publishes nothing once the first
    * load's files are in, and finishes the renames of a load that died
    * between them. */
  def loadBronze(objectPath: String, filename: String): String = {
    val load = RoverKeys.route(filename) match {
      case "photos" => Some(bronzePhotos -> Bronze.rawPhotoResponse(spark, objectPath))
      case "coordinates" =>
        Some(bronzeCoordinates -> Bronze.rawCoordinateResponse(spark, objectPath))
      case "manifests" => Some(bronzeManifests -> Bronze.rawManifestResponse(spark, objectPath))
      case _ => None // reference logs + skips unknown files
    }
    load.fold("UNKNOWN") { case (table, df) =>
      val digest = MessageDigest.getInstance("MD5").digest(objectPath.getBytes("UTF-8"))
      appendStaged(table, s"load-${HexFormat.of.formatHex(digest)}", df, clusterBy = Nil)
      table
    }
  }

  /** dbt run --select tag:flatten equivalent (EP2 first stage), one
    * batch of the silver offset log: the bronze files no batch has taken
    * yet. New photo files are flattened and appended; the rows of new
    * manifest and coordinate files are upserted (their own batch, so no
    * watermark filter applies), `flat_manifest_photos` from the same frame
    * as `flat_manifest_response`. A batch whose commit entry is missing
    * runs again over the files its offsets entry names (bronze files never
    * change): its appends are wiped first, and a merge table whose current
    * version already records the batch is left as it is. */
  def buildSilver(): Unit = {
    val bronze = Seq(bronzePhotos, bronzeManifests, bronzeCoordinates)
    runBatch(silverLog, bronze.flatMap(t => dataFiles(t).map(tableName(t) -> _)),
        replay = true, appends = Seq(silverFlatPhotos)) { (n, fresh) =>
      def take(table: String, schema: StructType): Option[(Seq[String], DataFrame)] =
        fresh.get(tableName(table)).map(files => files -> readFiles(table, files, schema))
      val photos = take(bronzePhotos, Schemas.photoBatch).toSeq.map { case (in, raw) =>
        (silverFlatPhotos, in, appendStaged(silverFlatPhotos, s"b$n",
          Silver.flatPhotoResponse(raw), clusterBy = Seq("rover_id", "sol", "earth_date")))
      }
      val merged = take(bronzeManifests, Schemas.manifestBatch).toSeq.flatMap { case (in, raw) =>
        val manifests = Silver.flatManifestResponse(raw)
        // flatten-inner: orphaned tag in the reference, but a hard
        // dependency of the validation view — built here (SURVEY §7.3
        // decision), from the manifests the merge above takes in
        Seq((silverFlatManifest, in,
            upsertBatch(silverFlatManifest, n, manifests, Seq("rover_name"))),
          (silverFlatManifestPhotos, in, upsertBatch(silverFlatManifestPhotos, n,
            Silver.flatManifestPhotos(manifests), Seq("rover_name", "sol"))))
      } ++ take(bronzeCoordinates, Schemas.coordinateBatch).toSeq.map { case (in, raw) =>
        (silverFlatCoordinates, in, upsertBatch(silverFlatCoordinates, n,
          Silver.flatCoordinateResponse(raw), Seq("rover_name", "sol")))
      }
      // retention: a merge table gains a version only in a batch that
      // brought it new bronze files — keep current + one grace version so
      // disk stays bounded instead of growing one full snapshot per such
      // batch. "Two versions" alone is NOT a reader grace under a fast
      // trigger (sub-second batches would sweep a snapshot mid-scan), so
      // the wall-clock grace below is what actually protects a concurrent
      // reader of the public warehouse views — a pinned version is
      // deletable only after it is BOTH superseded twice and 10 minutes
      // cold, the Delta VACUUM retention shape.
      merged.foreach { case (t, _, _) =>
        Incremental.vacuum(spark, t, keep = 2, minAgeMs = 10L * 60 * 1000)
      }
      (photos ++ merged).flatMap((commitLines _).tupled)
    }
  }

  // lazy views over the materialized silver
  def flatPhotos: DataFrame = readOr(silverFlatPhotos, photoModel)
  def flatManifest: DataFrame = readOr(silverFlatManifest, manifestModel)
  def flatManifestPhotos: DataFrame = readOr(silverFlatManifestPhotos, manifestPhotosModel)
  def flatCoordinates: DataFrame = readOr(silverFlatCoordinates, coordinateModel)

  def dimRovers: DataFrame = Dims.dimRovers(flatManifest)
  def dimCameras: DataFrame = Dims.dimCameras(flatManifest)
  def factPhotos: DataFrame = Facts.factPhotos(flatPhotos)
  def factPath: DataFrame = Facts.factPath(flatCoordinates)
  def validationPhotoGaps: DataFrame =
    Validation.validationPhotoGaps(flatManifestPhotos, flatPhotos)

  /** dbt run --select tag:aggregate equivalent (EP2 second stage), one
    * batch of the gold offset log: the silver photo files no batch has
    * taken yet, and the `flat_manifest_response` version when it changed.
    * The marts join the current dims and path, read once and shared, and
    * built only in a batch that writes a mart:
    *
    *  - `camera_travel_correlation`: the mart over the new photos alone —
    *    each row carries its photo's ingestion date;
    *  - `daily_activity`: the Perseverance sols among the new photos (one
    *    small job over the new files), then the mart over every silver
    *    photo of those sols, since a sol's counts include its older
    *    photos; both marts are skipped when there are no such sols;
    *  - `photo_summary`, when the manifest changed: the `dimRovers` rows
    *    it does not hold yet, matched by (rover_name, ingestion_date).
    *
    * A mart that does not exist yet is created, even empty. A batch whose
    * commit entry is missing is planned again from the listing: a silver
    * re-run renames the files its offsets entry names, and every gold
    * output is an append that is wiped before the batch runs again. */
  def buildGold(): Unit = {
    val (photosIn, manifestIn) = (tableName(silverFlatPhotos), tableName(silverFlatManifest))
    val listing = dataFiles(silverFlatPhotos).map(photosIn -> _) ++
      Incremental.currentSnapshot(spark, silverFlatManifest).map(manifestIn -> _)
    val marts = Seq(goldPhotoSummary, goldDailyActivity, goldCameraTravel)
    runBatch(goldLog, listing, replay = false, appends = marts) { (m, fresh) =>
      lazy val manifest = flatManifest
      lazy val rovers = Dims.dimRovers(manifest)
      lazy val cameras = Dims.dimCameras(manifest)
      lazy val path = factPath
      val manifestFresh = fresh.getOrElse(manifestIn, Nil)
      val summary =
        if (manifestFresh.isEmpty && Incremental.exists(spark, goldPhotoSummary)) None
        else {
          val rows = Marts.photoSummary(rovers)
          val keys = Seq("rover_name", "ingestion_date")
          val unheld = readPinned(goldPhotoSummary, rows.schema)
            .fold(rows)(held => rows.join(held.select(keys.map(col): _*), keys, "left_anti"))
          Some((goldPhotoSummary, manifestFresh,
            appendStaged(goldPhotoSummary, s"b$m", unheld, clusterBy = Seq("rover_name"))))
        }
      val photoFiles = fresh.getOrElse(photosIn, Nil)
      lazy val newPhotos = Facts.factPhotos(
        if (photoFiles.isEmpty) photoModel
        else readFiles(silverFlatPhotos, photoFiles, photoModel.schema))
      val sols =
        if (photoFiles.isEmpty) Nil
        else newPhotos.filter(col("rover_id") === 8 && col("sol").isNotNull)
          .select("sol").collect().map(_.getInt(0)).distinct.toSeq
      def mart(table: String, build: => DataFrame) =
        (table, photoFiles,
          if (sols.isEmpty && Incremental.exists(spark, table)) Nil
          else appendStaged(table, s"b$m", build, clusterBy = Seq("rover_name", "sol_number")))
      val perSol = Seq(
        mart(goldDailyActivity, Marts.dailyActivity(
          factPhotos.filter(col("sol").isin(sols: _*)), rovers, cameras, path)),
        mart(goldCameraTravel, Marts.cameraTravelCorrelation(newPhotos, rovers, cameras, path)))
      (summary.toSeq ++ perSol).flatMap((commitLines _).tupled)
    }
  }

  /** Runs the next batch of `log` over `listing`, the (table, input)
    * pairs on disk now. The batch takes the inputs the log has not
    * consumed, or, for a pending batch when `replay`, the ones its offsets
    * entry names; it records them in `offsets/<n>`, wipes what an earlier
    * attempt at batch n left in `appends`, lets `publish` write the batch
    * (inputs grouped by source table) and commits the lines it returns.
    * With nothing new and nothing pending it does nothing: no Spark job,
    * no file. */
  private def runBatch(log: OffsetLog, listing: => Seq[(String, String)], replay: Boolean,
                       appends: Seq[String])
                      (publish: (Long, Map[String, Seq[String]]) => Seq[Seq[String]]): Unit = {
    val r = log.resume()
    val replayed = r.planned.filter(_ => replay)
    val fresh = replayed.getOrElse(listing.toSet) -- r.consumed
    if (fresh.isEmpty && r.planned.isEmpty) return
    if (replayed.isEmpty)
      log.write(OffsetLog.Offsets, r.batch,
        (r.consumed ++ fresh).toSeq.sorted.map { case (t, f) => Seq(t, f) })
    appends.foreach(wipe(_, r.batch))
    val inputs = fresh.groupMap(_._1)(_._2).map { case (t, fs) => t -> fs.toSeq.sorted }
    log.write(OffsetLog.Commits, r.batch, publish(r.batch, inputs))
  }

  /** A commit entry's lines for one table: `<table> in <input>` per input
    * taken and `<table> out <name>` per file or snapshot published. */
  private def commitLines(table: String, in: Seq[String], out: Seq[String]): Seq[Seq[String]] =
    in.map(Seq(tableName(table), "in", _)) ++ out.map(Seq(tableName(table), "out", _))

  private def tableName(table: String): String = new Path(table).getName

  /** A table's input files: the data files directly under its root. Names
    * starting with `_` or `.` are skipped — Spark's `_temporary`,
    * `_SUCCESS` and `.crc` files and a batch's `_stage_b<n>` — so a load
    * still committing is taken by a later batch. */
  private def dataFiles(table: String): Seq[String] = {
    val p = new Path(table)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
  }

  private def readFiles(table: String, files: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(files.map(f => s"$table/$f"): _*)

  /** Removes what an attempt at batch n left in an append table: its
    * stage directory and the files it already renamed in. */
  private def wipe(table: String, n: Long): Unit = {
    val p = new Path(table)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filter(f => f.getName == s"_stage_b$n" || f.getName.startsWith(s"b$n-"))
        .foreach(fs.delete(_, true))
  }

  /** Appends `df` to `table`: written to `_stage_<tag>`, which readers
    * skip, then each data file renamed into the root as `<tag>-<name>`. A
    * file holding no rows is dropped (the count is read from its parquet
    * footer, no Spark job) unless the table does not exist yet, which a
    * first append creates even empty. Returns the names published.
    *
    * An earlier append under the same tag is finished, never repeated:
    * with `<tag>-` files in the root and no stage left it was complete,
    * and nothing is written; a stage holding `_SUCCESS` was fully written,
    * and only its remaining files are renamed in. A published file is
    * never removed, since a batch may already have taken it. */
  private def appendStaged(table: String, tag: String, df: DataFrame,
                           clusterBy: Seq[String]): Seq[String] = {
    val root = new Path(table)
    val listed = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    val stage = new Path(root, s"_stage_$tag")
    val staged = listed.exists(_.getPath.getName == stage.getName)
    val done = listed.map(_.getPath.getName).filter(_.startsWith(s"$tag-"))
    if (done.nonEmpty && !staged) return done
    val create = !listed.exists(st => st.isFile && !st.getPath.getName.startsWith("_"))
    if (!staged || !fs.exists(new Path(stage, "_SUCCESS")))
      Incremental.write(df, stage.toString, SaveMode.Overwrite, clusterBy)
    val published = done ++ dataFiles(stage.toString)
      .filter(f => create || rowCount(new Path(stage, f)) > 0)
      .map { f =>
        val dest = new Path(table, s"$tag-$f")
        require(fs.rename(new Path(stage, f), dest), s"rename into $dest failed")
        dest.getName
      }
    fs.delete(stage, true)
    published
  }

  private def rowCount(file: Path): Long = {
    // options from the session's conf: the default ones build a new
    // Hadoop Configuration, re-parsing the *-default.xml files, per call
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getRecordCount finally reader.close()
  }

  private val BatchKey = "transform.batch"

  /** Upserts batch n into a merge table, recording `transform.batch=n` in
    * the published version's meta, the way `SnapshotSink` records its
    * batch id; a table whose current version already records n is left
    * as it is. Returns the current version. */
  private def upsertBatch(table: String, n: Long, df: DataFrame,
                          keys: Seq[String]): Seq[String] = {
    if (!Incremental.snapshotMeta(spark, table).get(BatchKey).contains(n.toString))
      Incremental.upsertSnapshot(spark, table, df, keys, clusterBy = keys,
        meta = Map(BatchKey -> n.toString))
    Incremental.currentSnapshot(spark, table).toSeq
  }
}
