package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.Incremental

/** [[Incremental.compact]] — the OPTIMIZE maintenance op for the
  * versioned snapshot store: same rows, fewer/sorted files, atomic
  * publish, conflict-abort instead of shadowing a racing merge.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_compact").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/table"
  }

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))

  private def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
    df.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("compact bin-packs to one file with identical rows; history survives") {
    import spark.implicits._
    val t = tmp()
    // three merges at default shuffle width -> many small files per version
    (0 to 2).foreach(i =>
      Incremental.upsertSnapshot(spark, t,
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, f"tag$i"))
          .toDF("k", "ver").repartition(8),
        Seq("k")))
    val before = rows(Incremental.read(spark, t))
    val beforeFiles = parquetFiles(s"$t/v00000003").size
    assert(beforeFiles > 1, s"premise: expected many small files, got $beforeFiles")

    assert(Incremental.compact(spark, t)) // default target >> table size -> 1 file
    assert(Incremental.snapshots(spark, t).last === "v00000004")
    assert(parquetFiles(s"$t/v00000004").size === 1)
    assert(rows(Incremental.read(spark, t)) === before)
    // pre-compaction versions still time-travelable until vacuum
    assert(Incremental.readVersion(spark, t, 3).count() === 300)
  }

  test("sorted compaction yields range-disjoint files (row-group pruning contract)") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t,
      (0L until 3000L).map(k => (k, s"v${k % 7}")).toDF("k", "ver")
        .repartition(16), // hash-scattered: every file spans ~the full key range
      Seq("k"))
    val bytes = fs.getContentSummary(new Path(s"$t/v00000001")).getLength
    assert(Incremental.compact(spark, t, targetFileBytes = bytes / 3,
      sortBy = Seq("k")))
    val files = parquetFiles(s"$t/v00000002")
    assert(files.size >= 2, s"expected a multi-file compaction, got ${files.size}")
    // per-file key ranges must not overlap — the property min/max stats
    // pruning depends on
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString).agg(min("k"), max("k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $ranges")
      case _                     =>
    }
    assert(Incremental.read(spark, t).count() === 3000)
  }

  test("a publish conditioned on a stale base aborts cleanly") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t, Seq((1L, "a")).toDF("k", "ver"),
      Seq("k"))
    Incremental.upsertSnapshot(spark, t, Seq((1L, "b")).toDF("k", "ver"),
      Seq("k"))
    // a compact that read v1 as its base, racing the merge that made v2:
    // must refuse to publish v1's stale rows on top of v2
    val published = Incremental.writeSnapshot(spark, t,
      Seq((1L, "a")).toDF("k", "ver"), Nil, onlyIfCurrent = Some("v00000001"))
    assert(!published)
    assert(Incremental.snapshots(spark, t) === Seq("v00000001", "v00000002"))
    assert(Incremental.read(spark, t).collect()(0).getString(1) === "b")
    // no leftover stage dirs or unmatched claims from the abort
    val leftovers = fs.listStatus(new Path(t)).map(_.getPath.getName)
      .filter(n => n.startsWith("_stage_") ||
        (n.startsWith("_claim_") && n > "_claim_v00000002"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("zorder compaction: every file bounds a tight rectangle in BOTH dims") {
    import spark.implicits._
    val t = tmp()
    // full 32x32 grid, hash-scattered across input files
    val grid = for { a <- 0 until 32; b <- 0 until 32 } yield (a, b)
    Incremental.upsertSnapshot(spark, t,
      grid.map { case (a, b) => (a, b, "w") }.toDF("a", "b", "ver")
        .repartition(16),
      Seq("a", "b"))
    val bytes = fs.getContentSummary(new Path(s"$t/v00000001")).getLength
    assert(Incremental.compact(spark, t, targetFileBytes = (bytes + 3) / 4,
      zorderBy = Seq("a", "b")))
    val files = parquetFiles(s"$t/v00000002")
    assert(files.size >= 3, s"expected a multi-file layout, got ${files.size}")
    // a Z-curve segment's bounding box is a small rectangle: no file may
    // span anywhere near the full grid in both dimensions at once
    // (a plain sort by `a` would leave every file with the full b-span)
    files.foreach { fp =>
      val r = spark.read.parquet(fp.toString)
        .agg(min("a"), max("a"), min("b"), max("b")).head()
      val area = (r.getInt(1) - r.getInt(0) + 1).toLong *
        (r.getInt(3) - r.getInt(2) + 1)
      assert(area <= 512, s"file $fp bounds $area of 1024 cells: $r")
    }
    assert(Incremental.read(spark, t).count() === 1024)
  }

  test("compact aborts while a lower-numbered claim is still uncommitted") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t, Seq((1L, "a")).toDF("k", "ver"),
      Seq("k"))
    // an in-flight merge holds the next version's claim but hasn't
    // committed: compacting now would publish a HIGHER stale copy that
    // shadows that merge the moment it lands
    fs.create(new Path(t, "_claim_v00000002"), false).close()
    assert(!Incremental.compact(spark, t))
    assert(Incremental.snapshots(spark, t) === Seq("v00000001"))
    // claim released (vacuum with age 0, no writer) -> compact proceeds
    Incremental.vacuum(spark, t, keep = 2)
    assert(Incremental.compact(spark, t))
    assert(Incremental.read(spark, t).count() === 1)
  }

  test("compact refuses a non-versioned (flat append) table") {
    import spark.implicits._
    val t = tmp()
    Seq((1L, "x")).toDF("k", "ver").write.parquet(t)
    intercept[IllegalArgumentException] {
      Incremental.compact(spark, t)
    }
  }
}
