package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.mars.{Incremental, Validation}

/** The SURVEY §5.2 property tests: algebraic invariants over generated
  * inputs (deterministic seeds, so failures reproduce). */
class PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val rovers = Seq("Perseverance", "Curiosity", "Spirit")

  test("gap view == manifest minus actuals, exactly (5 seeded trials)") {
    import spark.implicits._
    val solSet = Gen.someOf(0 to 30)
    for (seed <- 1 to 5) {
      val manifest = rovers.flatMap { r =>
        sample(solSet, seed).map(s => (r, s, java.sql.Date.valueOf("2024-01-01"), 5, 2))
      }
      val actual = rovers.flatMap { r =>
        sample(solSet, seed + 100).map(s =>
          (r, s, java.sql.Date.valueOf("2024-01-01"), 1, s.toLong))
      }
      val manifestDF = manifest.toDF("rover_name", "sol", "earth_date",
        "manifest_total_photos", "manifest_camera_count")
      val actualDF = actual.toDF("rover_name", "sol", "earth_date",
        "camera_id", "image_id")
      val gaps = Validation.validationPhotoGaps(manifestDF, actualDF)
        .select("rover_name", "sol").as[(String, Int)].collect().toSet
      val m = manifest.map(x => (x._1, x._2)).toSet
      val a = actual.map(x => (x._1, x._2)).toSet
      assert(gaps == m -- a, s"seed=$seed")
      assert(gaps.intersect(a).isEmpty, s"seed=$seed gap ∩ actuals must be empty")
    }
  }

  test("merge upsert: result == new ∪ (old minus overlapping keys); idempotent") {
    import spark.implicits._
    val kv = Gen.listOfN(12, Gen.zip(Gen.choose(0, 9), Gen.choose(100, 999)))
    for (seed <- 1 to 3) {
      val dir = java.nio.file.Files.createTempDirectory("merge_prop").toString
      val target = s"$dir/t"
      val oldRows = sample(kv, seed).distinctBy(_._1)
        .map { case (k, v) => (k, v, "2024-01-01T00:00:00") }
      val newRows = sample(kv, seed + 50).distinctBy(_._1)
        .map { case (k, v) => (k, v, "2024-01-02T00:00:00") }
      def df(rows: Seq[(Int, Int, String)]) =
        rows.toDF("k", "v", "ingestion_date")
      Incremental.upsertSnapshot(spark, target, df(oldRows), Seq("k"))
      Incremental.upsertSnapshot(spark, target, df(newRows), Seq("k"))
      val got = Incremental.read(spark, target)
        .as[(Int, Int, String)].collect().toSet
      val expected = (newRows ++
        oldRows.filterNot(o => newRows.exists(_._1 == o._1))).toSet
      assert(got == expected, s"seed=$seed")
      // idempotence: replaying the same source changes nothing (each
      // replayed key replaces itself)
      Incremental.upsertSnapshot(spark, target, df(newRows), Seq("k"))
      val again = Incremental.read(spark, target)
        .as[(Int, Int, String)].collect().toSet
      assert(again == expected, s"seed=$seed replay must be a no-op")
    }
  }

  test("exact dedup partitions the corpus: copies sum to total, one canonical per hash") {
    import spark.implicits._
    val textGen = Gen.listOfN(40, Gen.oneOf("aa bb", "cc dd", "ee ff", "gg hh", "ii jj"))
    for (seed <- 1 to 3) {
      val texts = sample(textGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val dedup = docs
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("canonical"), count(lit(1)).as("n"))
        .collect()
      assert(dedup.map(_.getLong(2)).sum == texts.size, s"seed=$seed")
      assert(dedup.map(_.getString(0)).distinct.length == dedup.length, s"seed=$seed")
      assert(dedup.length == texts.distinct.size, s"seed=$seed")
    }
  }

  test("jaccard in near-dup output is symmetric-safe and bounded in (0,1]") {
    import spark.implicits._
    val docs = (1 to 12).map { i =>
      (i.toLong, (1 to 8).map(j => s"w${(i + j) % 10}").mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val pairs = graft.text.TextOps.nearDupPairs(docs, threshold = 0.0).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 - 1e-9 && j <= 1.0 + 1e-9)
      assert(r.getAs[Long]("doc_id_a") < r.getAs[Long]("doc_id_b"))
      val h = r.getAs[Int]("hamming_distance")
      assert(h >= 0 && h <= 16)
    }
  }

  test("dedup clusters match a union-find ground truth on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)))
    for (seed <- 1 to 5) {
      val raw = sample(edgeGen, seed)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      // ground truth: classic union-find
      val parent = scala.collection.mutable.Map((0L to 29L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = raw.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      // both tiers must agree with ground truth: driver union-find
      // (default — pair count under the threshold) and the distributed
      // label-propagation loop (forced via driverMaxPairs = 0)
      val gotDriver = graft.text.TextOps.dedupClusters(raw.toDF("doc_id_a", "doc_id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDriver == expected, s"driver tier: seed=$seed edges=$raw")
      val gotDist = graft.text.TextOps.dedupClusters(
        raw.toDF("doc_id_a", "doc_id_b"), driverMaxPairs = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == expected, s"distributed tier: seed=$seed edges=$raw")
    }
  }

  test("as-of join matches per-row nearest-earlier scan on random data") {
    import spark.implicits._
    val ptsGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    val refGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    for (seed <- 1 to 3) {
      val pts = sample(ptsGen, seed).zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val refs = sample(refGen, seed + 10).distinctBy(r => (r._1, r._2)).zipWithIndex
        .map { case ((k, t), i) => (k, t, s"v$i") }
      val got = graft.ops.AsOf.joinAsOf(
        pts.toDF("id", "k", "t"), refs.toDF("k", "rt", "rv"),
        Seq("k"), "t", "rt")
        .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("rv"))).toMap
      val expected = pts.map { case (id, k, t) =>
        id -> refs.filter(r => r._1 == k && r._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("forward as-of tolerance works on integer timestamps (column-unit tolerance)") {
    import spark.implicits._
    val pts = Seq((1L, 0L, 100), (2L, 0L, 200)).toDF("id", "k", "t")
    val refs = Seq((0L, 150, "near"), (0L, 900, "far")).toDF("k", "rt", "rv")
    // tolerance 60 in the ts column's own units: id=1 matches rt=150
    // (gap 50), id=2's nearest-later is rt=900 (gap 700) -> nulled
    val got = graft.ops.AsOf.joinAsOfForward(
      pts, refs, Seq("k"), "t", "rt", toleranceSec = Some(60L))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("rv"))).toMap
    assert(got == Map(1L -> Some("near"), 2L -> None))
  }

  test("forward as-of matches per-row nearest-later scan on random data") {
    import spark.implicits._
    val ptsGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    val refGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    for (seed <- 1 to 3) {
      val pts = sample(ptsGen, seed).zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val refs = sample(refGen, seed + 10).distinctBy(r => (r._1, r._2)).zipWithIndex
        .map { case ((k, t), i) => (k, t, s"v$i") }
      val got = graft.ops.AsOf.joinAsOfForward(
        pts.toDF("id", "k", "t"), refs.toDF("k", "rt", "rv"),
        Seq("k"), "t", "rt")
        .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("rv"))).toMap
      val expected = pts.map { case (id, k, t) =>
        id -> refs.filter(r => r._1 == k && r._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("nearest as-of picks the closer side, ties backward, on random data") {
    import spark.implicits._
    val ptsGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    val refGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 500)))
    for (seed <- 1 to 3) {
      val pts = sample(ptsGen, seed).zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val refs = sample(refGen, seed + 10).distinctBy(r => (r._1, r._2)).zipWithIndex
        .map { case ((k, t), i) => (k, t, s"v$i") }
      val got = graft.ops.AsOf.joinAsOfNearest(
        pts.toDF("id", "k", "t"), refs.toDF("k", "rt", "rv"),
        Seq("k"), "t", "rt")
        .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("rv"))).toMap
      val expected = pts.map { case (id, k, t) =>
        val cands = refs.filter(_._1 == k)
        id -> (if (cands.isEmpty) None else {
          val best = cands.map(r => (math.abs(r._2 - t).toLong,
            // ties backward: earlier rt wins; encode as secondary key
            if (r._2 <= t) 0 else 1, r._3)).min
          Some(best._3)
        })
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }
}
