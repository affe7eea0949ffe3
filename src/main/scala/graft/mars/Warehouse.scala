package graft.mars

import java.security.MessageDigest
import java.util.HexFormat

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set, struct}
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
  * Every table, bronze included, is an [[Incremental]] table: one
  * directory per write under its root, and a [[TableLog]] whose newest
  * version names the directories that make it up. Appends and merges
  * publish the same way ([[Incremental.publish]]), so a reader sees a
  * batch whole or not at all, and what the loop takes from a table is
  * what its newest version names: directories, never a listing.
  *
  * Incremental by input, not by watermark (SURVEY §7.4, item 5a): silver
  * and gold each keep an [[OffsetLog]] (`$root/_checkpoints/silver`,
  * `/gold`) of the input directories (gold: and manifest version) they
  * have consumed, and a batch reads only the ones not in it. Both builds
  * therefore cost O(batch), run no `max()` scan, and with nothing new run
  * no Spark job at all; a batch stamped in the same second as the one
  * before is kept, where the reference's strict `>` on `ingestion_date`
  * drops it. Batch n writes each table under the tag `b<n>`, and a table
  * whose newest version names that tag already is left as it is, so
  * re-running a batch whose commit entry is missing over the inputs its
  * offsets entry names neither loses nor duplicates rows. A bronze load
  * is tagged by its object path, so a replayed `minio-events` record
  * loads the object once.
  *
  * The log also carries the facts a cycle would otherwise re-derive from
  * silver. Silver's commit entry holds a `key` line per distinct
  * (rover_name, sol, rover_id) its photo append wrote, gathered on the
  * write; [[buildGold]] takes its Perseverance sols from them and
  * [[gapKeys]] keeps the gap set from them (`$root/_checkpoints/gaps`).
  * Each has a recovery path that reads the data instead: gold collects
  * the sols from its new directories when they are not exactly those of
  * retained silver entries (silver's entries deleted, or `buildGold`
  * alone over a table no batch wrote), and the gap set is rebuilt from
  * the view on the first cycle, after a manifest merge, and when the
  * entries since its batch are gone (a crash that lost them, retention).
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

  // the offset logs sit outside the table roots: a batch that writes
  // nothing to a table leaves no file under it
  private lazy val silverLog = OffsetLog(spark, s"$root/_checkpoints/silver")
  private lazy val goldLog = OffsetLog(spark, s"$root/_checkpoints/gold")
  private lazy val gapLog = OffsetLog(spark, s"$root/_checkpoints/gaps")
  private val GapState = "state"

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
  private def readPinned(table: String, schema: StructType): Option[DataFrame] =
    TableLog(spark, table).latest.map { case (_, dirs) => readFiles(table, dirs, schema) }
  private def readOr(path: String, model: DataFrame): DataFrame =
    readPinned(path, model.schema).getOrElse(model)

  /** Bronze loader (S9): one routed JSON object → typed append, published
    * the way a batch append is, into a directory of its own. Loads
    * therefore share no Spark job-attempt directory: what a load that
    * died while committing left under its `_temporary/` is not merged by
    * the next load's job commit, and no version names it.
    *
    * The load's tag is a digest of the object path, so loading an object
    * again — `startLoadStream`'s `foreachBatch` is at-least-once and may
    * replay a `minio-events` record — publishes nothing once the first
    * load is published, and replaces what a load that died before
    * publishing wrote. */
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
      Incremental.publish(spark, table, s"load-${HexFormat.of.formatHex(digest)}", df,
        clusterBy = Nil, replace = false)
      table
    }
  }

  /** dbt run --select tag:flatten equivalent (EP2 first stage), one
    * batch of the silver offset log: the bronze directories no batch has
    * taken yet. New photo directories are flattened and appended, and the
    * commit entry lists the sol keys the append wrote; the rows of new
    * manifest and coordinate directories are upserted (their own batch,
    * so no watermark filter applies), `flat_manifest_photos` from the same
    * frame as `flat_manifest_response`. */
  def buildSilver(): Unit = {
    val bronze = Seq(bronzePhotos, bronzeManifests, bronzeCoordinates)
    runBatch(silverLog, bronze.flatMap(t => live(t).map(tableName(t) -> _))) { (n, fresh) =>
      def take(table: String, schema: StructType): Option[(Seq[String], DataFrame)] =
        fresh.get(tableName(table)).map(dirs => dirs -> readFiles(table, dirs, schema))
      val photos = take(bronzePhotos, Schemas.photoBatch).toSeq.flatMap { case (in, raw) =>
        val published = Incremental.publish(spark, silverFlatPhotos, s"b$n",
          Silver.flatPhotoResponse(raw), clusterBy = Seq("rover_id", "sol", "earth_date"),
          replace = false, observe = Seq(collect_set(photoKeyStruct).as("keys")))
        val out = Seq(s"b$n").filter(_ => published.live)
        // the write gathered the keys; when an earlier run had published
        // the batch, they are read from its directory
        val keys = published.observed.map(_("keys")).getOrElse(
          readFiles(silverFlatPhotos, out, photoModel.schema)
            .select(collect_set(photoKeyStruct)).head().get(0)).asInstanceOf[collection.Seq[Row]]
        commitLines(silverFlatPhotos, in, out) ++
          keys.map(photoKey).sorted.map { case (r, s, id) =>
            Seq(tableName(silverFlatPhotos), "key") ++ Seq(r, s, id).map(OffsetLog.field)
          }
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
      // brought it new bronze — keep current + one grace version so
      // disk stays bounded instead of growing one full copy per such
      // batch. "Two versions" alone is NOT a reader grace under a fast
      // trigger (sub-second batches would sweep a version mid-scan), so
      // the wall-clock grace below is what actually protects a concurrent
      // reader of the public warehouse views — a pinned version is
      // deletable only after it is BOTH superseded twice and 10 minutes
      // cold, the Delta VACUUM retention shape.
      merged.foreach { case (t, _, _) =>
        Incremental.vacuum(spark, t, keep = 2, minAgeMs = 10L * 60 * 1000)
      }
      photos ++ merged.flatMap((commitLines _).tupled)
    }
  }

  /** A silver photo's sol key, (rover_name, sol, rover_id): silver's
    * commit entry holds the distinct keys its photo append wrote. */
  private type PhotoKey = (Option[String], Option[Int], Option[Int])
  private val photoKeyStruct: Column = struct(col("rover_name"), col("sol"), col("rover_id"))
  private def photoKey(r: Row): PhotoKey = {
    val (rover, sol) = GapScheduler.gapKey(r)
    (rover, sol, Option(r.get(2)).map(_.asInstanceOf[Int]))
  }

  /** Silver batch n's photo append as its commit entry records it: the
    * directory it published (`out` line) and the keys it holds (`key`
    * lines, `flat_photo_response key <rover_name> <sol> <rover_id>`). */
  private def photoBatch(n: Long): (Set[String], Seq[PhotoKey]) = {
    val lines = silverLog.read(OffsetLog.Commits, n).filter(_.head == tableName(silverFlatPhotos))
    def int(f: String) = OffsetLog.value(f).map(_.toInt)
    (lines.collect { case Seq(_, "out", f) => f }.toSet,
      lines.collect { case Seq(_, "key", r, s, id) => (OffsetLog.value(r), int(s), int(id)) })
  }

  /** The keys of silver photo directories `dirs` from silver's retained
    * commit entries, when those entries published exactly `dirs`; None
    * when a directory is in no retained entry. */
  private def loggedKeys(dirs: Seq[String]): Option[Seq[PhotoKey]] = {
    val batches = silverLog.ids(OffsetLog.Commits).map(photoBatch)
      .filter(_._1.exists(dirs.contains))
    Option.when(batches.flatMap(_._1).toSet == dirs.toSet)(batches.flatMap(_._2))
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

  /** The gap set the scheduler reads, as (rover_name, sol) keys in
    * `GapScheduler.nextBatch` order with duplicates kept: the keys of
    * [[validationPhotoGaps]], which stays its oracle, maintained under
    * `$root/_checkpoints/gaps` instead of scanned.
    *
    * The state is an entry keyed by the silver batch it reflects: the
    * `flat_manifest_photos` version, then the keys. When that version is
    * current and silver's commit entries after the state's batch are all
    * retained, their photo keys are dropped from it (a key holding a null
    * covers nothing, as in the view's anti-join): no Spark job. Otherwise
    * — first call, a manifest merge, or entries lost to a crash or to
    * retention — it is rebuilt from the view's keys, unsorted
    * ([[Validation.missingSols]], two jobs) and sorted here. The
    * state is written, at the last committed silver batch, only when it
    * changed. */
  def gapKeys(): Seq[GapScheduler.GapKey] = {
    val committed = silverLog.ids(OffsetLog.Commits)
    val version = OffsetLog.field(TableLog(spark, silverFlatManifestPhotos).versions.lastOption)
    val held = gapLog.ids(GapState).lastOption.map(s => s -> gapLog.read(GapState, s))
    val maintained = held.zip(committed.lastOption).collect {
      case ((s, Seq(`version`) +: lines), c) if s <= c && (s + 1 to c).forall(committed.contains) =>
        val covered = (s + 1 to c).flatMap(photoBatch(_)._2)
          .collect { case (Some(r), Some(sol), _) => (r, sol) }.toSet
        lines.map { case Seq(r, sol) => (OffsetLog.value(r), OffsetLog.value(sol).map(_.toInt)) }
          .filterNot { case (r, sol) => r.zip(sol).exists(covered) }
    }
    val gaps = maintained.getOrElse(
      Validation.missingSols(flatManifestPhotos, flatPhotos).select("rover_name", "sol")
        .collect().toSeq.map(GapScheduler.gapKey).sorted(GapScheduler.gapOrder))
    val state = Seq(version) +: gaps.map { case (r, sol) => Seq(r, sol).map(OffsetLog.field) }
    committed.lastOption.filterNot(c => held.contains(c -> state))
      .foreach(gapLog.write(GapState, _, state))
    gaps
  }

  /** dbt run --select tag:aggregate equivalent (EP2 second stage), one
    * batch of the gold offset log: the silver photo directories no batch
    * has taken yet, and the `flat_manifest_response` version when it
    * changed.
    * The marts join the current dims and path, read once and shared, and
    * built only in a batch that writes a mart:
    *
    *  - `camera_travel_correlation`: the mart over the new photos alone —
    *    each row carries its photo's ingestion date;
    *  - `daily_activity`: the Perseverance sols among the new photos, then
    *    the mart over every silver photo of those sols, since a sol's
    *    counts include its older photos; both marts are skipped when there
    *    are no such sols. The sols are the `rover_id = 8` keys of the
    *    silver commit entries that published exactly the new directories,
    *    or, when there are no such entries, one small job over them;
    *  - `photo_summary`, when the manifest changed: the `dimRovers` rows
    *    it does not hold yet, matched by (rover_name, ingestion_date).
    *
    * A mart that does not exist yet is created, even empty. */
  def buildGold(): Unit = {
    val (photosIn, manifestIn) = (tableName(silverFlatPhotos), tableName(silverFlatManifest))
    val listing = live(silverFlatPhotos).map(photosIn -> _) ++
      TableLog(spark, silverFlatManifest).versions.lastOption.map(manifestIn -> _.toString)
    runBatch(goldLog, listing) { (m, fresh) =>
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
          Some((goldPhotoSummary, manifestFresh, append(goldPhotoSummary, m, unheld, Seq("rover_name"))))
        }
      val photoDirs = fresh.getOrElse(photosIn, Nil)
      lazy val newPhotos = Facts.factPhotos(
        if (photoDirs.isEmpty) photoModel
        else readFiles(silverFlatPhotos, photoDirs, photoModel.schema))
      val sols =
        if (photoDirs.isEmpty) Nil
        else loggedKeys(photoDirs).fold(
          // recovery: the new directories are not whole retained silver entries
          newPhotos.filter(col("rover_id") === 8 && col("sol").isNotNull)
            .select("sol").collect().map(_.getInt(0)).toSeq)(
          _.collect { case (_, Some(sol), Some(8)) => sol }).distinct
      def mart(table: String, build: => DataFrame) =
        (table, photoDirs,
          if (sols.isEmpty && Incremental.exists(spark, table)) Nil
          else append(table, m, build, Seq("rover_name", "sol_number")))
      val perSol = Seq(
        mart(goldDailyActivity, Marts.dailyActivity(
          factPhotos.filter(col("sol").isin(sols: _*)), rovers, cameras, path)),
        mart(goldCameraTravel, Marts.cameraTravelCorrelation(newPhotos, rovers, cameras, path)))
      (summary.toSeq ++ perSol).flatMap((commitLines _).tupled)
    }
  }

  /** Runs the next batch of `log` over `listing`, the (table, input)
    * pairs published now. The batch takes the inputs the log has not
    * consumed, or, when its commit entry is missing, the ones its offsets
    * entry names (published inputs never change); it records them in
    * `offsets/<n>`, lets `publish` write the batch (inputs grouped by
    * source table) and commits the lines it returns. With nothing new and
    * nothing pending it does nothing: no Spark job, no file. */
  private def runBatch(log: OffsetLog, listing: => Seq[(String, String)])
                      (publish: (Long, Map[String, Seq[String]]) => Seq[Seq[String]]): Unit = {
    val r = log.resume()
    val fresh = r.planned.getOrElse(listing.toSet) -- r.consumed
    if (fresh.isEmpty && r.planned.isEmpty) return
    if (r.planned.isEmpty)
      log.write(OffsetLog.Offsets, r.batch,
        (r.consumed ++ fresh).toSeq.sorted.map { case (t, f) => Seq(t, f) })
    val inputs = fresh.groupMap(_._1)(_._2).map { case (t, fs) => t -> fs.toSeq.sorted }
    log.write(OffsetLog.Commits, r.batch, publish(r.batch, inputs))
  }

  /** A commit entry's lines for one table: `<table> in <input>` per input
    * taken and `<table> out <name>` per directory or version published. */
  private def commitLines(table: String, in: Seq[String], out: Seq[String]): Seq[Seq[String]] =
    in.map(Seq(tableName(table), "in", _)) ++ out.map(Seq(tableName(table), "out", _))

  private def tableName(table: String): String = new Path(table).getName

  /** The directories of a table's newest version; none before its first. */
  private def live(table: String): Seq[String] = TableLog(spark, table).latest.fold(Seq.empty[String])(_._2)

  private def readFiles(table: String, dirs: Seq[String], schema: StructType): DataFrame =
    Incremental.readDirs(spark, table, dirs, Some(schema))

  /** Appends batch n's `df` to `table` under the tag `b<n>`; the
    * directory the table's newest version names for it, if any. */
  private def append(table: String, n: Long, df: DataFrame, clusterBy: Seq[String]): Seq[String] =
    Seq(s"b$n").filter(_ => Incremental.publish(spark, table, s"b$n", df, clusterBy, replace = false).live)

  /** Upserts batch n into a merge table under the tag `b<n>`: a table
    * whose newest version is batch n's is left as it is. Only a published
    * version counts, so the re-run of a batch that died before publishing
    * its merge publishes it. Returns the newest version. */
  private def upsertBatch(table: String, n: Long, df: DataFrame,
                          keys: Seq[String]): Seq[String] = {
    Incremental.upsertSnapshot(spark, table, df, keys, clusterBy = keys, tag = s"b$n")
    TableLog(spark, table).versions.lastOption.map(_.toString).toSeq
  }
}
