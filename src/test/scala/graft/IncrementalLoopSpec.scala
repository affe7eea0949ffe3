package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Assemble, IngestSim}
import graft.mars._
import graft.streaming.Orchestrator

/** The batch orchestration loop, cycle by cycle, against a full refresh:
  * after every cycle each silver table and each gold mart equals the
  * `Silver`/`Dims`/`Marts` functions applied to all bronze loaded so far,
  * and a cycle that brings a table nothing new publishes nothing to it.
  * Plus the pinned-schema reads: a stored table whose column type
  * disagrees with the schema it is read with fails loudly.
  */
class IncrementalLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sols = 1 to 6
  private val cameras = Seq("Curiosity" -> Seq("FHAZ", "MAST"),
    "Perseverance" -> Seq("NAVCAM_LEFT", "MCZ_RIGHT"))

  /** A clock that advances one second per call, so every batch gets its
    * own watermark value however fast the cycles run. */
  private def ticking(): () => String = {
    var t = java.time.LocalDateTime.parse("2025-01-01T00:00:00")
    () => { t = t.plusSeconds(1); t.toString }
  }

  private def upload(store: Path, filename: String, doc: String): String = {
    val dir = store.resolve(RoverKeys.route(filename))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(filename), doc + "\n")
    s"${RoverKeys.route(filename)}/$filename"
  }

  // every sol of both rovers declares exactly the cameras IngestSim lands;
  // `extra` adds raw per-sol entries to a rover's list
  private def manifestDoc(ts: String, name: String = "mars_rover_manifests_1.json",
                          extra: Map[String, Seq[String]] = Map.empty): String = {
    val ms = cameras.map { case (rover, cams) =>
      val perSol = sols.map(s =>
        s"""{"sol": $s, "earth_date": "2025-01-0$s", "total_photos": ${cams.size}, """ +
          s""""cameras": ${cams.map(c => s""""$c"""").mkString("[", ", ", "]")}}""") ++
        extra.getOrElse(rover, Nil)
      s"""{"name": "$rover", "landing_date": "2020-01-01", "launch_date": "2019-06-01", """ +
        s""""status": "active", "max_sol": ${sols.max}, "max_date": "2025-01-06", """ +
        s""""total_photos": ${sols.size * cams.size}, "photos": ${perSol.mkString("[", ", ", "]")}}"""
    }
    s"""{"filename": "$name", "manifests": ${ms.mkString("[", ", ", "]")}, """ +
      s""""ingestion_date": "$ts"}"""
  }

  /** A manifest sol entry; `sol = None` leaves the field out. */
  private def solEntry(sol: Option[Int]): String =
    sol.fold("{")(s => s"""{"sol": $s, """) +
      """"earth_date": "2025-01-09", "total_photos": 2, "cameras": ["FHAZ", "MAST"]}"""

  // a drive segment on odd sols only, so photo-only sols take the marts'
  // null-path branches; its SCLK window holds IngestSim's capture times
  private def coordinatesDoc(ts: String): String = {
    val fs = for ((rover, _) <- cameras; s <- sols if s % 2 == 1) yield {
      val start = 600000000L + s * 86400L
      s"""{"type": "Feature", "rover_name": "$rover", "geometry": {"type": "LineString", """ +
        s""""coordinates": [[$s.0, 1.0, -2.0], [$s.5, 1.5, -2.5]]}, "properties": {"sol": $s, """ +
        s""""fromRMC": "${s}_0", "toRMC": "${s}_1", "length": ${s * 1.5}, """ +
        s""""SCLK_START": $start, "SCLK_END": ${start + 3600}}}"""
    }
    s"""{"filename": "mars_rover_coordinates_1.json", "coordinate_count": ${fs.size}, """ +
      s""""coordinates": ${fs.mkString("[", ", ", "]")}, "ingestion_date": "$ts"}"""
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** The relative paths of everything under a table root. */
  private def entries(table: String): Set[String] = {
    val p = Path.of(table)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.map(f => p.relativize(f).toString).toArray.map(_.toString).toSet
      finally s.close()
    }
  }

  /** A warehouse over a fresh object store, driven by the batch
    * orchestrator: `setUp` lands the manifest, the traverse and sol 1 of
    * each rover and runs the first transform; `cycle` ingests the head of
    * the schedule. */
  private final class Loop(tag: String, clock: () => String,
                           manifest: String => String = manifestDoc(_)) {
    val root: Path = Files.createTempDirectory(s"graft_$tag")
    val store: Path = root.resolve("store")
    val wh = Warehouse(spark, root.resolve("warehouse").toString)
    val orch = Orchestrator(spark, root.resolve("topics").toString, store.toString, wh, clock)
    val merged = Seq(wh.silverFlatManifest, wh.silverFlatManifestPhotos, wh.silverFlatCoordinates)
    val silver = wh.silverFlatPhotos +: merged
    val gold = Seq(wh.goldPhotoSummary, wh.goldDailyActivity, wh.goldCameraTravel)
    var sched: GapScheduler.IngestionSchedule = _

    def assertFullRefresh(cycle: String): Unit = {
      val photos = Silver.flatPhotoResponse(Bronze.rawPhotoResponse(spark, s"$store/photos"))
      val manifest = Silver.flatManifestResponse(
        Bronze.rawManifestResponse(spark, s"$store/manifests"))
      val coords = Silver.flatCoordinateResponse(
        Bronze.rawCoordinateResponse(spark, s"$store/coordinates"))
      val (rovers, cams) = (Dims.dimRovers(manifest), Dims.dimCameras(manifest))
      val (facts, path) = (Facts.factPhotos(photos), Facts.factPath(coords))
      Seq(
        "flat_photo_response" -> (wh.flatPhotos, photos),
        "flat_manifest_response" -> (wh.flatManifest, manifest),
        "flat_manifest_photos" -> (wh.flatManifestPhotos, Silver.flatManifestPhotos(manifest)),
        "flat_coordinate_response" -> (wh.flatCoordinates, coords),
        "photo_summary" -> (Incremental.read(spark, wh.goldPhotoSummary), Marts.photoSummary(rovers)),
        "daily_activity" -> (Incremental.read(spark, wh.goldDailyActivity),
          Marts.dailyActivity(facts, rovers, cams, path)),
        "camera_travel_correlation" -> (Incremental.read(spark, wh.goldCameraTravel),
          Marts.cameraTravelCorrelation(facts, rovers, cams, path))
      ).foreach { case (name, (got, want)) =>
        val expected = multiset(want)
        assert(expected.nonEmpty, s"$cycle: full-refresh $name is empty")
        assert(multiset(got.select(want.columns.toIndexedSeq.map(col): _*)) == expected,
          s"$cycle: $name differs from its full refresh")
      }
      // the merge tables were fed once, at set-up: no cycle re-published them
      merged.foreach(t => assert(TableLog(spark, t).versions == Seq(0L),
        s"$cycle: $t was re-published"))
    }

    // set-up: manifest and traverse, then sol 1 of each rover through the sim
    def setUp(): Unit = {
      val seeded = Seq(
        upload(store, "mars_rover_manifests_1.json", manifest(clock())),
        upload(store, "mars_rover_coordinates_1.json", coordinatesDoc(clock()))) ++
        orch.ingestStage(cameras.map(rc => GapScheduler.IngestionTask(rc._1, 1)), Seq(1))
      orch.loadStage(seeded)
      sched = orch.transformStage()
    }

    /** One cycle: ingest the head of the schedule (none: no new bronze at
      * all), load, transform; returns the tasks ingested. */
    def cycle(n: Int): Seq[GapScheduler.IngestionTask] = {
      val tasks = land(n)
      sched = orch.transformStage()
      tasks
    }

    /** The ingest and load half of a cycle. */
    def land(n: Int): Seq[GapScheduler.IngestionTask] = landTasks(sched.tasks.take(n))

    def landTasks(tasks: Seq[GapScheduler.IngestionTask]): Seq[GapScheduler.IngestionTask] = {
      if (tasks.nonEmpty) {
        val key = orch.ingestStage(tasks, tasks.map(_.sol).min to tasks.map(_.sol).max)
        orch.loadStage(key.toSeq)
      }
      tasks
    }
  }

  test("every batch cycle leaves silver and gold equal to a full refresh of bronze") {
    val loop = new Loop("incloop", ticking())
    import loop._
    setUp()
    assertFullRefresh("set-up")

    def rovers(ts: Seq[GapScheduler.IngestionTask]) = ts.map(_.rover_name).toSet

    // Curiosity only: the marts (Perseverance rows) gain no file
    for (c <- 1 to 2) {
      val goldBefore = gold.map(entries)
      assert(rovers(cycle(2)) == Set("Curiosity"))
      assertFullRefresh(s"cycle $c")
      assert(gold.map(entries) == goldBefore, s"cycle $c: a gold table gained a file")
    }
    assert(rovers(cycle(2)) == Set("Curiosity", "Perseverance"))
    assertFullRefresh("cycle 3")
    // no new bronze: nothing is published anywhere
    val before = (silver ++ gold).map(entries)
    assert(cycle(0).isEmpty)
    (silver ++ gold).zip(before).foreach { case (t, b) =>
      assert(entries(t) -- b == Set.empty, s"no-bronze cycle wrote under $t")
    }
    assertFullRefresh("cycle 4")
    for (c <- 5 to 6) {
      assert(rovers(cycle(2)) == Set("Perseverance"))
      assertFullRefresh(s"cycle $c")
    }
    assert(sched.tasks.isEmpty, s"gap queue not drained: ${sched.tasks}")
  }

  /** The Spark jobs `body` starts, counted under a job group of its own.
    * Listener events arrive in order, so once a marker job run after
    * `body` is seen, every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = ("graft-jobs-of", "graft-jobs-of-marker")
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsOf", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "jobsOf marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    started.get
  }

  test("a cycle's gap scan and schedule run at most two Spark jobs") {
    val loop = new Loop("gapjobs", ticking())
    import loop._
    setUp()
    cycle(2)
    cycle(2)
    val jobs = jobsOf(GapScheduler.schedule(GapScheduler.nextBatch(wh.validationPhotoGaps)))
    assert(jobs <= 2, s"the gap scan ran $jobs jobs")
  }

  private def logIds(dir: Path): Seq[Long] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted.toSeq
      finally s.close()
    }

  /** The data directories a table's newest version names. */
  private def live(table: String): Set[String] =
    TableLog(spark, table).latest.fold(Set.empty[String])(_._2.toSet)

  /** The parquet files under a directory, by relative path. */
  private def parquetFiles(dir: String): Set[String] = entries(dir).filter(_.endsWith(".parquet"))

  /** The last commit entry of each offset log against the disk: every
    * input it names is a directory the table's source names (gold: or
    * the manifest's version), together they are exactly the inputs its
    * offsets entry added, and each table's outputs are its `b<n>`
    * directory, when its newest version names one, or its newest version. */
  private def assertCommitEntries(loop: Loop, label: String): Unit = {
    import loop.{gold, merged, silver, wh}
    val source = Map(
      wh.silverFlatPhotos -> wh.bronzePhotos, wh.silverFlatManifest -> wh.bronzeManifests,
      wh.silverFlatManifestPhotos -> wh.bronzeManifests,
      wh.silverFlatCoordinates -> wh.bronzeCoordinates,
      wh.goldPhotoSummary -> wh.silverFlatManifest, wh.goldDailyActivity -> wh.silverFlatPhotos,
      wh.goldCameraTravel -> wh.silverFlatPhotos)
    def name(t: String) = Path.of(t).getFileName.toString
    val tables = (silver ++ gold).map(t => name(t) -> t).toMap
    for ((stage, appends) <- Seq("silver" -> Seq(wh.silverFlatPhotos), "gold" -> gold)) {
      val dir = Path.of(wh.root, "_checkpoints", stage)
      val log = OffsetLog(spark, dir.toString)
      val n = logIds(dir.resolve(OffsetLog.Commits)).last
      val lines = log.read(OffsetLog.Commits, n).map(l => (tables(l.head), l(1), l(2)))
      def offsets(i: Long) =
        if (i < 0) Set.empty[(String, String)] else log.read(OffsetLog.Offsets, i).map(l => l.head -> l(1)).toSet
      val taken = lines.collect { case (t, "in", f) =>
        val named = if (merged.contains(source(t))) TableLog(spark, source(t)).versions.map(_.toString)
          else live(source(t)).toSeq
        assert(named.contains(f), s"$label: $stage batch $n input $f is not in ${source(t)}")
        name(source(t)) -> f
      }.toSet
      assert(taken == offsets(n) -- offsets(n - 1), s"$label: $stage batch $n inputs")
      val out = lines.collect { case (t, "out", f) => t -> f }.groupMap(_._1)(_._2)
      appends.foreach { t =>
        assert(out.getOrElse(t, Nil).toSet == live(t).filter(_ == s"b$n"),
          s"$label: $stage batch $n outputs of $t")
      }
      out.foreach { case (t, fs) =>
        if (merged.contains(t)) assert(fs == TableLog(spark, t).versions.lastOption.map(_.toString).toSeq)
        else assert(appends.contains(t), s"$label: $stage published to $t")
      }
    }
  }

  test("a batch stamped in the same second as the one before reaches silver and gold") {
    val loop = new Loop("samesecond", () => "2025-01-01T00:00:00")
    import loop._
    setUp()
    assertFullRefresh("set-up")
    assertCommitEntries(loop, "set-up")
    val bronze = Seq(wh.bronzePhotos, wh.bronzeManifests, wh.bronzeCoordinates)
    val copy = root.resolve("bronze_copy").toString
    Incremental.read(spark, wh.bronzePhotos).write.parquet(copy)
    // Curiosity 2-6 and Perseverance 2, then Perseverance 3-4 and 5-6
    for ((take, c) <- Seq(6, 2, 2).zipWithIndex) {
      val tasks = land(take)
      assert(tasks.exists(_.rover_name == "Perseverance"), tasks)
      // writer leftovers in a bronze root: a _SUCCESS marker, Spark's .crc
      // files, and a load still committing under _temporary/
      Files.createDirectories(Path.of(wh.bronzePhotos, "_temporary", "0"))
      Files.write(Path.of(wh.bronzePhotos, "_SUCCESS"), Array.emptyByteArray)
      parquetFiles(copy).foreach(f => Files.copy(Path.of(copy, f),
        Path.of(wh.bronzePhotos, "_temporary", "0", f), StandardCopyOption.REPLACE_EXISTING))
      val junk = entries(wh.bronzePhotos).map(n => Path.of(n).getFileName.toString)
        .filter(n => n.startsWith("_") || n.startsWith("."))
      assert(Seq("_temporary", "_SUCCESS", ".").forall(p => junk.exists(_.startsWith(p))), junk)
      sched = orch.transformStage()
      assertFullRefresh(s"cycle ${c + 1}")
      assertCommitEntries(loop, s"cycle ${c + 1}")
      val dir = Path.of(wh.root, "_checkpoints", "silver", OffsetLog.Offsets)
      val consumed = OffsetLog(spark, dir.getParent.toString)
        .read(OffsetLog.Offsets, logIds(dir).last).map(_(1)).toSet
      assert(consumed == bronze.flatMap(live).toSet, s"cycle ${c + 1}: silver consumed $consumed")
    }
  }

  test("a bronze load leaves alone what a dead load left under _temporary") {
    val loop = new Loop("deadload", ticking())
    import loop._
    setUp()
    // a load that died while committing: a data file in the photo root's
    // job-attempt dir, holding a copy of photos already loaded
    val attempt = Files.createDirectories(Path.of(wh.bronzePhotos, "_temporary", "0"))
    val planted = attempt.resolve("part-dead.parquet")
    val loaded = Path.of(wh.bronzePhotos, live(wh.bronzePhotos).min)
    Files.copy(loaded.resolve(parquetFiles(loaded.toString).min), planted)
    for (c <- 1 to 2) {
      assert(cycle(2).nonEmpty)
      assertFullRefresh(s"cycle $c")
      assert(Files.exists(planted), s"cycle $c: the planted file was moved")
    }
  }

  test("a batch run again after a crash lands once") {
    val loop = new Loop("rerun", ticking())
    import loop._
    val checkpoints = s"${wh.root}/_checkpoints"
    /** A committed batch becomes a pending one that died before
      * publishing an append: its commit entries go, so does the table
      * version naming its `b<n>` directory, and a stale file is left in
      * that directory. */
    def crash(): Unit =
      for ((stage, t) <- Seq("silver" -> wh.silverFlatPhotos, "gold" -> wh.goldCameraTravel)) {
        val commits = Path.of(checkpoints, stage, OffsetLog.Commits)
        val n = logIds(commits).last
        Files.delete(commits.resolve(n.toString))
        val log = TableLog(spark, t)
        val (v, dirs) = log.latest.get
        assert(dirs.contains(s"b$n"), s"$stage batch $n published nothing to $t")
        log.drop(v)
        val dir = Path.of(t, s"b$n")
        Files.copy(dir.resolve(parquetFiles(dir.toString).min), dir.resolve("part-stale.parquet"))
      }
    def rerun(cycle: String): Unit = {
      crash()
      assert(loop.cycle(0).isEmpty)
      assertFullRefresh(cycle)
      assert(wh.flatPhotos.distinct().count() == wh.flatPhotos.count(), s"$cycle: duplicate photos")
      assertCommitEntries(loop, cycle)
      val before = (silver ++ gold :+ checkpoints).map(entries)
      assert(loop.cycle(0).isEmpty)
      assert((silver ++ gold :+ checkpoints).map(entries) == before, s"$cycle: a no-op run wrote")
    }
    setUp()
    rerun("set-up batch run again") // batch 0: appends, merges and the marts' first files
    assert(cycle(7).map(_.rover_name).toSet == Set("Curiosity", "Perseverance"))
    rerun("cycle 1 run again")
  }

  test("a merge written without its log version does not count as applied") {
    val clock = ticking()
    val loop = new Loop("orphanmerge", clock)
    import loop._
    setUp()
    // a second manifest: every sol again, and sol 7 for both rovers
    val name = "mars_rover_manifests_2.json"
    val sol7 = cameras.map { case (rover, _) => rover -> Seq(solEntry(Some(7))) }.toMap
    orch.loadStage(Seq(upload(store, name, manifestDoc(clock(), name, sol7))))
    wh.buildSilver()
    // the run died between flat_manifest_photos' write and its version:
    // the batch's directory is written whole, no version names it, and
    // the batch has no commit entry
    val commits = Path.of(wh.root, "_checkpoints", "silver", OffsetLog.Commits)
    val n = logIds(commits).last
    Files.delete(commits.resolve(n.toString))
    val table = wh.silverFlatManifestPhotos
    val log = TableLog(spark, table)
    assert(log.versions == Seq(0L, 1L) && log.dirs(1) == Seq(s"b$n"))
    log.drop(1)
    assert(parquetFiles(s"$table/b$n").nonEmpty)
    // its rows, sol 7's, are not part of the table
    assert(wh.flatManifestPhotos.filter(col("sol") === 7).count() == 0)

    sched = orch.transformStage()
    // the batch ran again: its merge published, and the merge that had
    // been published was left as it is
    assert(log.versions == Seq(0L, 1L) && log.dirs(1) == Seq(s"b$n"))
    assert(TableLog(spark, wh.silverFlatManifest).versions == Seq(0L, 1L))
    val want = Silver.flatManifestPhotos(Silver.flatManifestResponse(
      Bronze.rawManifestResponse(spark, s"$store/manifests/$name")))
    assert(multiset(wh.flatManifestPhotos.select(want.columns.toIndexedSeq.map(col): _*)) ==
      multiset(want))
    assertCommitEntries(loop, "merge batch run again")
  }

  test("an object loaded again lands once, and its replay finishes a load that died") {
    val loop = new Loop("reload", ticking())
    import loop._
    setUp()
    val bronze = Seq(wh.bronzePhotos, wh.bronzeManifests, wh.bronzeCoordinates)
    def versions = bronze.map(TableLog(spark, _).versions)
    val before = live(wh.bronzePhotos)
    val tasks = sched.tasks.take(2)
    val key = orch.ingestStage(tasks, tasks.map(_.sol).min to tasks.map(_.sol).max).toSeq
    orch.loadStage(key)
    val (loaded, published) = (bronze.map(live), versions)
    // a replayed minio-events record for every object loaded so far
    orch.loadStage(key ++ Seq("manifests/mars_rover_manifests_1.json",
      "coordinates/mars_rover_coordinates_1.json"))
    assert(bronze.map(live) == loaded && versions == published, "a replayed load wrote to bronze")

    val Seq(tag) = (loaded.head -- before).toSeq
    val dir = Path.of(wh.bronzePhotos, tag)
    val log = TableLog(spark, wh.bronzePhotos)
    // died before publishing: the directory holds a finished write that
    // no version names
    log.drop(log.versions.last)
    assert(live(wh.bronzePhotos) == before)
    orch.loadStage(key)
    assert(live(wh.bronzePhotos) == loaded.head && versions == published,
      "the replay did not publish the load")
    // died while writing: the directory holds a partial write
    log.drop(log.versions.last)
    val old = Path.of(wh.bronzePhotos, before.min)
    Files.copy(old.resolve(parquetFiles(old.toString).min), dir.resolve("part-partial.parquet"))
    orch.loadStage(key)
    assert(live(wh.bronzePhotos) == loaded.head && versions == published)
    assert(!Files.exists(dir.resolve("part-partial.parquet")))

    sched = orch.transformStage()
    assertFullRefresh("replayed loads")
  }

  test("a multi-file load that no version names is invisible, and its replay lands it once") {
    val loop = new Loop("wholebatch", ticking())
    import loop._
    setUp()
    cycle(2)
    // one object of two photo documents, from two ingests
    val docs = sched.tasks.take(2).map { t =>
      val doc = store.resolve(orch.ingestStage(Seq(t), t.sol to t.sol).get)
      try Files.readString(doc).trim finally Files.delete(doc)
    }
    val key = upload(store, "mars_rover_photos_pair.json", docs.mkString("\n"))
    // the load died after writing its directory whole, before publishing
    // it: one file per document
    val objectPath = s"$store/$key"
    val digest = java.security.MessageDigest.getInstance("MD5").digest(objectPath.getBytes("UTF-8"))
    val dir = s"${wh.bronzePhotos}/load-${java.util.HexFormat.of.formatHex(digest)}"
    Bronze.rawPhotoResponse(spark, objectPath).repartition(2).write.parquet(dir)
    assert(parquetFiles(dir).size == 2)

    val (photos, gaps) = (wh.flatPhotos.count(), wh.gapKeys())
    val checkpoints = s"${wh.root}/_checkpoints"
    val logged = entries(checkpoints)
    wh.buildSilver()
    assert(entries(checkpoints) == logged, "silver took an unpublished load")
    assert(wh.flatPhotos.count() == photos && wh.gapKeys() == gaps)
    // the replayed load replaces the directory and publishes it
    orch.loadStage(Seq(key))
    assert(live(wh.bronzePhotos).count(d => dir.endsWith(s"/$d")) == 1)
    sched = orch.transformStage()
    assertFullRefresh("the replayed load")
    assert(wh.flatPhotos.count() > photos && wh.flatPhotos.distinct().count() == wh.flatPhotos.count())
    assert(wh.gapKeys().size == gaps.size - 2)
  }

  test("a stored column whose type disagrees with the pinned schema fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pinned").toString
    val wh = Warehouse(spark, root)
    def publish(table: String, df: DataFrame): Unit =
      Incremental.publish(spark, table, "b0", df, clusterBy = Nil, replace = false)
    // silver photos with `sol` stored as a string
    publish(wh.silverFlatPhotos, Silver.flatPhotoResponse(MarsPipeline.fixtures(spark).rawPhotos)
      .withColumn("sol", col("sol").cast("string")))
    def mismatch(action: => Any): Unit = {
      val e = intercept[org.apache.spark.SparkException](action)
      assert(e.getMessage.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"), e.getMessage)
    }
    mismatch(wh.flatPhotos.collect())
    mismatch(wh.buildGold())
    // bronze photos with `ingestion_date` stored as a long
    publish(wh.bronzePhotos, Seq(("a.json", 99990101L)).toDF("filename", "ingestion_date")
      .withColumn("photos", lit(null).cast(Schemas.photoBatch("photos").dataType)))
    mismatch(wh.buildSilver())
  }

  test("the ingest envelope is one fetch per schedule and the JSON Spark writes") {
    val tasks = Seq(("Curiosity", 4), ("Perseverance", 9), ("Spirit", 3))
      .map { case (r, s) => GapScheduler.IngestionTask(r, s) }
    val photos = IngestSim.photos(spark, tasks)
    assert(photos.rdd.getNumPartitions == math.min(3, spark.sparkContext.defaultParallelism))
    val envelope = Assemble.photosEnvelope(photos, 3 to 9, "2025-01-01T00:00:00")
    // the same document as the union of each task fetched alone
    val perTask = Assemble.photosEnvelope(
      tasks.map(t => IngestSim.photos(spark, Seq(t))).reduce(_ unionByName _), 3 to 9,
      "2025-01-01T00:00:00")
    assert(envelope.toJSON.collect().toSeq == perTask.toJSON.collect().toSeq)
    val store = Files.createTempDirectory("graft_envelope")
    val key = Assemble.uploadJson(envelope, store.toString)
    assert(key == "photos/mars_rover_photos_batch_sol_3_to_9_2025-01-01T000000.json")
    assert(Files.readString(store.resolve(key)) == envelope.toJSON.collect().head + "\n")
    intercept[IllegalArgumentException](
      Assemble.uploadJson(envelope.unionByName(envelope), store.toString))
  }

  test("a manifest sol without a sol number does not stall the schedule") {
    val loop = new Loop("solless", ticking(),
      manifestDoc(_, extra = Map("Curiosity" -> Seq(solEntry(None)))))
    import loop._
    setUp()
    val all = for ((rover, _) <- cameras; s <- sols if s > 1) yield GapScheduler.IngestionTask(rover, s)
    assert(sched.tasks == all)
    assert(cycle(4) == all.take(4))
    assert(sched.tasks == all.drop(4))
    // the view keeps the sol-less row
    assert(wh.validationPhotoGaps.filter(col("sol").isNull).count() == 1)
  }

  test("a photo-only cycle's transform runs at most two Spark jobs") {
    val loop = new Loop("transformjobs", ticking())
    import loop._
    setUp()
    cycle(2)
    assert(land(2).map(_.rover_name).toSet == Set("Curiosity"))
    val jobs = jobsOf { sched = orch.transformStage() }
    assert(jobs <= 2, s"the transform ran $jobs jobs")
    assertFullRefresh("the counted cycle")
  }

  test("gold takes a batch's sols from silver's commit entries, or from its files without them") {
    val loop = new Loop("goldsols", ticking())
    import loop._
    setUp()
    def land(tasks: (String, Int)*): Unit =
      landTasks(tasks.map { case (r, s) => GapScheduler.IngestionTask(r, s) })
    // the new silver files span two commit entries
    land("Perseverance" -> 2, "Curiosity" -> 2)
    wh.buildSilver()
    land("Perseverance" -> 3)
    wh.buildSilver()
    wh.buildGold()
    assertFullRefresh("two silver batches, one gold batch")
    // no silver commit entry left: gold reads the sols from the files
    land("Perseverance" -> 4, "Perseverance" -> 5)
    wh.buildSilver()
    val commits = Path.of(wh.root, "_checkpoints", "silver", OffsetLog.Commits)
    logIds(commits).foreach(n => Files.delete(commits.resolve(n.toString)))
    wh.buildGold()
    assertFullRefresh("silver commit entries deleted")
  }

  test("a log field holds a null, or any value on one line") {
    val values = Seq(None, Some("Curiosity"), Some(""), Some("\\N"), Some("a\tb\nc\rd\\e\\t"), Some(42))
    val fields = values.map(OffsetLog.field)
    assert(fields.head == "\\N" && fields(1) == "Curiosity" && fields.last == "42")
    assert(fields.forall(f => !f.exists("\t\n\r".contains(_))), fields)
    assert(fields.map(OffsetLog.value) == values.map(_.map(_.toString)))
  }

  test("the maintained gap set equals the gap view after every cycle") {
    // a sol-less Curiosity entry and a Perseverance sol declared twice
    val dup = Map("Curiosity" -> Seq(solEntry(None)), "Perseverance" -> Seq(solEntry(Some(3))))
    val clock = ticking()
    val loop = new Loop("gapstate", clock, manifestDoc(_, extra = dup))
    import loop._
    val checkpoints = Path.of(wh.root, "_checkpoints")
    val (silverCommits, state) = (checkpoints.resolve("silver/commits"), checkpoints.resolve("gaps/state"))
    def keys(df: DataFrame) = df.collect().toSeq.map(GapScheduler.gapKey)
    def assertGaps(label: String): Unit = {
      val n = logIds(state).last
      assert(n == logIds(silverCommits).last, s"$label: state keyed by batch $n")
      val lines = OffsetLog(spark, state.getParent.toString).read("state", n)
      assert(lines.head == Seq(OffsetLog.field(
        TableLog(spark, wh.silverFlatManifestPhotos).versions.lastOption)), s"$label: version")
      val held = lines.tail.map { case Seq(r, s) => (OffsetLog.value(r), OffsetLog.value(s).map(_.toInt)) }
      val view = wh.validationPhotoGaps.select("rover_name", "sol")
      assert(held == keys(view.orderBy("rover_name", "sol")), s"$label: gap state")
      assert(sched == GapScheduler.schedule(GapScheduler.nextBatch(view)), s"$label: schedule")
    }
    def delete(dir: Path, n: Long): Unit = Files.delete(dir.resolve(n.toString))

    setUp()
    assertGaps("set-up")
    cycle(2)
    assertGaps("cycle 1")
    // photos without a rover name (at Curiosity's gap sol 6) or a sol
    val odd = Seq("""{"id": 901, "sol": 6, "rover": {"id": 5}}""",
      """{"id": 902, "rover": {"id": 5, "name": "Curiosity"}}""")
    orch.loadStage(Seq(upload(store, "mars_rover_photos_odd.json",
      s"""{"filename": "mars_rover_photos_odd.json", "photo_count": 2, """ +
        s""""photos": ${odd.mkString("[", ", ", "]")}, "ingestion_date": "${clock()}"}""")))
    assert(cycle(2).map(_.sol) == Seq(4, 5))
    assertGaps("cycle 2: photos with a null key")
    assert(sched.tasks.head == GapScheduler.IngestionTask("Curiosity", 6))
    // the manifest changes: new sols 7 and 8, Perseverance 3 still twice
    val more = Map("Curiosity" -> Seq(solEntry(Some(7))),
      "Perseverance" -> Seq(7, 8, 3).map(s => solEntry(Some(s))))
    orch.loadStage(Seq(upload(store, "mars_rover_manifests_2.json",
      manifestDoc(clock(), "mars_rover_manifests_2.json", more))))
    cycle(2)
    assertGaps("cycle 3: manifest changed")
    // a crash in silver's batch: its offsets entry without its commit
    // entry, and no gap state or gold commit written after it
    cycle(2)
    val n = logIds(silverCommits).last
    delete(silverCommits, n)
    delete(checkpoints.resolve("gold/commits"), logIds(checkpoints.resolve("gold/commits")).last)
    delete(state, n)
    assert(cycle(0).isEmpty)
    assertGaps("cycle 4: silver batch run again")
    // a lost silver commit entry between the state and the last batch
    land(2)
    wh.buildSilver()
    delete(silverCommits, n)
    delete(state, n)
    sched = orch.transformStage()
    assertGaps("cycle 5: silver commit entry lost")
    // a lost gap state
    def loseState(): Unit =
      Files.walk(state.getParent).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    loseState()
    cycle(2)
    assertGaps("cycle 6: gap state lost")
    // the rebuild is the view's two jobs; the state it wrote is read in none
    loseState()
    val rebuilt = jobsOf(wh.gapKeys())
    assert(rebuilt <= 2, s"the rebuild ran $rebuilt jobs")
    assert(jobsOf(wh.gapKeys()) == 0)
    assertGaps("cycle 6: rebuilt again")
    assert(cycle(2).nonEmpty)
    assertGaps("cycle 7")
    assert(sched.tasks.isEmpty, s"gap queue not drained: ${sched.tasks}")
    // the sol-less row is all that is left, and a cycle with nothing new
    // writes no state
    assert(keys(wh.validationPhotoGaps.select("rover_name", "sol")) == Seq(Some("Curiosity") -> None))
    val before = entries(state.getParent.toString)
    assert(cycle(0).isEmpty)
    assert(entries(state.getParent.toString) == before)
  }

  /** The command lines of the processes the JVM starts while `body` runs,
    * from an in-process flight recording of `jdk.ProcessStart`. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  test("a loop cycle starts no process") {
    val clock = ticking()
    val loop = new Loop("noforks", clock)
    import loop._
    setUp()
    cycle(2)
    val name = "mars_rover_manifests_2.json"
    val sol7 = cameras.map { case (rover, _) => rover -> Seq(solEntry(Some(7))) }.toMap
    val started = processesStarted {
      assert(cycle(2).nonEmpty)
      // a manifest merge: its data directory and its log entry
      orch.loadStage(Seq(upload(store, name, manifestDoc(clock(), name, sol7))))
      sched = orch.transformStage()
    }
    assert(TableLog(spark, wh.silverFlatManifestPhotos).versions.size == 2)
    // other suites' processes name no path under this loop's root
    val under = root.toRealPath().toString
    val mine = started.filter(_.contains(under))
    assert(mine.size == 0, s"processes started under $under: ${mine.take(3)}")
  }
}
