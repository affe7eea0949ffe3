package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.Incremental

/** The merge-publish atomicity contract (VERDICT r2 item 6): a reader
  * racing upsertSnapshot must never observe a half-published table —
  * no FileNotFound from a swapped-away directory (the r2 temp-dir-swap
  * failure mode), no row set that isn't exactly one committed version.
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

  test("vacuum keeps the live snapshot and drops old ones") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 4).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    Incremental.vacuum(spark, t, keep = 2)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(t))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(snaps.toSeq === Seq("v00000004", "v00000005"))
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
    assert(Incremental.snapshots(spark, t) === Seq("v00000003"))
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "002")
  }

  test("vacuum's age grace protects recent snapshots and fresh writer leftovers") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 3).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    // simulate an in-flight writer: a fresh stage dir + claim
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(t, "_stage_inflight"))
    fs.create(new org.apache.hadoop.fs.Path(t, "_claim_v00000009"), false).close()
    // everything on disk is younger than the grace → vacuum must not
    // touch ANY of it (expired versions, stages, claims alike)
    Incremental.vacuum(spark, t, keep = 1, minAgeMs = 60 * 60 * 1000L)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(t))
      .map(_.getPath.getName).toSet
    assert(Incremental.snapshots(spark, t).size === 4)
    assert(names.contains("_stage_inflight") && names.contains("_claim_v00000009"))
    // grace elapsed (age 0): the same call now sweeps all of them
    Incremental.vacuum(spark, t, keep = 1, minAgeMs = 0L)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(t))
      .map(_.getPath.getName).toSet
    assert(after === Set("v00000004", "_commit_v00000004", "_claim_v00000004"))
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "003")
  }

  test("time travel: every retained published version reads back exactly") {
    import spark.implicits._
    val t = tmpDir()
    (0 to 3).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        Seq((1L, f"$i%03d")).toDF("k", "ver"), Seq("k")))
    assert(Incremental.snapshots(spark, t) ===
      Seq("v00000001", "v00000002", "v00000003", "v00000004"))
    (1 to 4).foreach { v =>
      assert(Incremental.readVersion(spark, t, v)
        .collect()(0).getString(1) === f"${v - 1}%03d")
    }
    intercept[IllegalArgumentException] {
      Incremental.readVersion(spark, t, 9) // never published
    }
    Incremental.vacuum(spark, t, keep = 1)
    intercept[IllegalArgumentException] {
      Incremental.readVersion(spark, t, 1) // vacuumed away
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
    // both writers committed distinct versions on top of v1
    assert(Incremental.snapshots(spark, t) ===
      Seq("v00000001", "v00000002", "v00000003"))
    (1 to 3).foreach(v =>
      assert(Incremental.readVersion(spark, t, v).count() === 10))
    // the current table is exactly ONE writer's internally-consistent
    // result (snapshot isolation: racing upserts don't compose)
    val tags = Incremental.read(spark, t).select("ver")
      .distinct().collect().map(_.getString(0)).toSet
    assert(tags === Set("001") || tags === Set("002"), tags)
  }

  test("upsert with mergeSchema grows the table schema; strict mode refuses") {
    import spark.implicits._
    val t = tmpDir()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "ver"), Seq("k"))
    // upstream grew a column: evolve on upsert, old rows null-fill
    Incremental.upsertSnapshot(spark, t,
      Seq((2L, "b2", "en"), (3L, "c", "fr")).toDF("k", "ver", "lang"),
      Seq("k"), mergeSchema = true)
    val got = Incremental.read(spark, t)
      .select("k", "ver", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set((1L, "a", None), (2L, "b2", Some("en")),
      (3L, "c", Some("fr"))))
    // strict default: a source missing table columns fails loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.upsertSnapshot(spark, t,
        Seq((4L, "d")).toDF("k", "ver"), Seq("k"))
    }
  }

  test("a crashed write (snapshot dir without pointer flip) is invisible") {
    import spark.implicits._
    val t = tmpDir()
    // simulate the crash: a snapshot dir exists but no _current was ever
    // published
    Seq((1L, "x")).toDF("k", "ver").write.parquet(s"$t/v00000001")
    assert(!Incremental.exists(spark, t))
    // first real merge publishes cleanly over the orphan
    Incremental.upsertSnapshot(spark, t, Seq((2L, "y")).toDF("k", "ver"),
      Seq("k"))
    assert(Incremental.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }
}
