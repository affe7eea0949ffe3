package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.{Incremental, MarsPipeline, Silver, TableLog, Warehouse}

/** The merge-publish atomicity contract (VERDICT r2 item 6): a reader
  * racing upsertSnapshot must never observe a half-published table —
  * no FileNotFound from a swapped-away directory (the r2 temp-dir-swap
  * failure mode), no row set that isn't exactly one published version.
  */
class SnapshotRaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/table"
  }

  test("reader racing a stream of merges only ever sees committed versions") {
    import spark.implicits._
    val t = tmpDir()
    // version i holds keys 0..999, all tagged "00i" — every committed
    // version has a recognizable (count, single distinct tag) signature.
    def version(i: Int) =
      (0 until 1000).map(k => (k.toLong, f"$i%03d")).toDF("k", "ver")
    Incremental.upsertSnapshot(spark, t, version(0), Seq("k"))

    val stop = new AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = Incremental.read(spark, t)
            .agg(count(lit(1)), countDistinct("ver")).collect()(0)
          if (r.getLong(0) != 1000L || r.getLong(1) != 1L)
            failures.add(s"torn read: count=${r.getLong(0)} versions=${r.getLong(1)}")
        } catch {
          case e: Exception => failures.add(s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      // each merge fully replaces all keys with a strictly higher tag
      (1 to 6).foreach(i =>
        Incremental.upsertSnapshot(spark, t, version(i), Seq("k")))
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    val last = Incremental.read(spark, t).agg(max("ver")).collect()(0).getString(0)
    assert(last === "006")
  }

  test("reader racing multi-file appends only ever sees whole batches") {
    val wh = Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_appendrace").toString)
    val photos = Silver.flatPhotoResponse(MarsPipeline.fixtures(spark).rawPhotos)
    val batch = photos.count()
    // every batch is the same photos in three files, so every published
    // version holds a whole number of batches
    def append(i: Int): Unit = Incremental.publish(spark, wh.silverFlatPhotos, s"b$i",
      photos.repartition(3), clusterBy = Nil, replace = false)
    append(0)
    val files = java.nio.file.Files.list(java.nio.file.Path.of(wh.silverFlatPhotos, "b0"))
    try assert(files.toArray.count(_.toString.endsWith(".parquet")) == 3) finally files.close()

    val stop = new AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val n = wh.flatPhotos.count()
          reads.incrementAndGet()
          if (n % batch != 0) failures.add(s"torn read: $n rows, batches of $batch")
        } catch {
          case e: Exception => failures.add(s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try (1 to 6).foreach(append)
    finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    assert(reads.get > 0)
    assert(wh.flatPhotos.count() === 7 * batch)
  }

  test("a reader whose listing two appends outdate reads the newest version") {
    // the read that follows a listing, with two appends committed in
    // between: the second drops the version the listing found newest
    val log = TableLog(spark, tmpDir())
    log.commit(_ :+ "a")
    val listed = log.versions
    log.commit(_ :+ "b")
    log.commit(_ :+ "c")
    assert(!log.versions.contains(listed.last))
    assert(log.latestOf(listed) === Some(2L -> Seq("a", "b", "c")))
  }

  test("a DataFrame resolved before a merge still reads its own snapshot") {
    import spark.implicits._
    val t = tmpDir()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "v1"), (2L, "v1")).toDF("k", "ver"), Seq("k"))
    val pinned = Incremental.read(spark, t) // resolves the pointer NOW
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "v2"), (2L, "v2"), (3L, "v2")).toDF("k", "ver"), Seq("k"))
    // lazy evaluation AFTER the merge: the pinned frame must still be the
    // old snapshot, the fresh read the new one
    assert(pinned.collect().map(_.getString(1)).toSet === Set("v1"))
    assert(Incremental.read(spark, t).count() === 3)
  }

  /** The names directly under a table root. */
  private def rootNames(t: String): Set[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Path.of(t))
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally s.close()
  }

  /** `_log` and the data directories the retained versions name. */
  private def retained(t: String): Set[String] = {
    val log = TableLog(spark, t)
    log.versions.flatMap(log.dirs).toSet + TableLog.Dir
  }

  test("vacuum keeps the live snapshot and drops old ones") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 4).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    Incremental.vacuum(spark, t, keep = 2)
    assert(TableLog(spark, t).versions === Seq(3L, 4L))
    assert(rootNames(t) === retained(t) && rootNames(t).size === 3)
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "004")
  }

  test("vacuum can never delete the live snapshot, even at keep = 0") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 2).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    Incremental.vacuum(spark, t, keep = 0)
    assert(Incremental.exists(spark, t))
    assert(TableLog(spark, t).versions === Seq(2L))
    assert(rootNames(t) === retained(t))
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "002")
  }

  test("vacuum's age grace protects recent snapshots and fresh writer leftovers") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 3).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    // simulate an in-flight writer: a fresh data directory no version names
    Seq((1L, "x")).toDF("k", "ver").write.parquet(s"$t/inflight")
    // everything on disk is younger than the grace → vacuum must not
    // touch ANY of it (expired versions and the writer's directory alike)
    Incremental.vacuum(spark, t, keep = 1, minAgeMs = 60 * 60 * 1000L)
    assert(TableLog(spark, t).versions.size === 4)
    assert(rootNames(t) === retained(t) + "inflight" && rootNames(t).size === 6)
    // grace elapsed (age 0): the same call now sweeps all of them
    Incremental.vacuum(spark, t, keep = 1, minAgeMs = 0L)
    assert(TableLog(spark, t).versions === Seq(3L))
    assert(rootNames(t) === retained(t) && rootNames(t).size === 2)
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "003")
  }

  test("time travel: every retained published version reads back exactly") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 3).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    assert(TableLog(spark, t).versions === Seq(0L, 1L, 2L, 3L))
    (0 to 3).foreach { v =>
      assert(Incremental.readVersion(spark, t, v)
        .collect()(0).getString(1) === f"$v%03d")
    }
    intercept[IllegalArgumentException] {
      Incremental.readVersion(spark, t, 9) // never published
    }
    Incremental.vacuum(spark, t, keep = 1)
    intercept[IllegalArgumentException] {
      Incremental.readVersion(spark, t, 0) // vacuumed away
    }
  }

  test("random merge sequences match an in-memory upsert model (5 seeded trials)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val t = tmpDir()
      // about one key in six is null: a merge table keeps one row per key,
      // the null key included
      val model = scala.collection.mutable.Map[Option[Long], String]()
      for (batch <- 0 until 6) {
        val tag = f"$batch%03d"
        val keys = (0 until (1 + rnd.nextInt(12)))
          .map(_ => Option.when(rnd.nextInt(6) > 0)(rnd.nextInt(30).toLong)).distinct
        // every row of the batch upserts by key — mirror exactly
        keys.foreach(k => model(k) = tag)
        Incremental.upsertSnapshot(spark, t,
          keys.map(k => (k, tag)).toDF("k", "ver"), Seq("k"))
      }
      // the row multiset, not a map: a key held twice must show
      val got = Incremental.read(spark, t).collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toSeq
      assert(got.sorted === model.toSeq.sorted, s"seed $seed diverged")
    }
  }

  test("two racing merges publish two distinct committed versions, no torn files") {
    import spark.implicits._
    val t = tmpDir()
    Incremental.upsertSnapshot(spark, t,
      (0L to 9L).map(k => (k, "000")).toDF("k", "ver"), Seq("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def merger(tag: String) = new Thread(() => {
      try Incremental.upsertSnapshot(spark, t,
        (0L to 9L).map(k => (k, tag)).toDF("k", "ver"), Seq("k"))
      catch { case e: Throwable => errs.add(e) }
    })
    val (a, b) = (merger("001"), merger("002"))
    a.start(); b.start(); a.join(120000); b.join(120000)
    // join(timeout) returns even if the thread is hung — make a timeout a
    // clear failure, not a race against still-running writers below
    assert(!a.isAlive && !b.isAlive, "a merge writer exceeded the join timeout")
    assert(errs.isEmpty, errs.toArray.mkString("\n"))
    // both writers published distinct versions on top of version 0
    assert(TableLog(spark, t).versions === Seq(0L, 1L, 2L))
    (0 to 2).foreach(v =>
      assert(Incremental.readVersion(spark, t, v).count() === 10))
    // the current table is exactly ONE writer's internally-consistent
    // result (snapshot isolation: racing upserts don't compose)
    val tags = Incremental.read(spark, t).select("ver")
      .distinct().collect().map(_.getString(0)).toSet
    assert(tags === Set("001") || tags === Set("002"), tags)
  }

  test("an upsert whose source lacks a table column fails loudly") {
    import spark.implicits._
    val t = tmpDir()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "a", "en"), (2L, "b", "fr")).toDF("k", "ver", "lang"), Seq("k"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.upsertSnapshot(spark, t,
        Seq((4L, "d")).toDF("k", "ver"), Seq("k"))
    }
  }

  test("a crashed write (snapshot dir without pointer flip) is invisible") {
    import spark.implicits._
    val t = tmpDir()
    // simulate the crash: a data directory written whole, no version
    // published
    Seq((1L, "x")).toDF("k", "ver").write.parquet(s"$t/crashed")
    assert(!Incremental.exists(spark, t))
    // first real merge publishes cleanly beside the orphan
    Incremental.upsertSnapshot(spark, t, Seq((2L, "y")).toDF("k", "ver"),
      Seq("k"))
    assert(Incremental.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(!TableLog(spark, t).dirs(0).contains("crashed"))
  }
}
