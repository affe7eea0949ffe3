package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.mars._

/** dbt-style declarative constraint helpers (reference: sources.yml tests —
  * not_null / unique / accepted_values / expression_is_true, SURVEY §5.2). */
object Expect {
  def notNull(df: DataFrame, cols: String*): Unit = cols.foreach { c =>
    val n = df.filter(col(c).isNull).count()
    assert(n == 0, s"$c has $n nulls")
  }
  def unique(df: DataFrame, cols: String*): Unit = {
    val n = df.count()
    val d = df.select(cols.map(col): _*).distinct().count()
    assert(n == d, s"(${cols.mkString(",")}) not unique: $n rows, $d distinct")
  }
  def valuesIn(df: DataFrame, c: String, allowed: Seq[String]): Unit = {
    val bad = df.filter(!col(c).isin(allowed: _*)).count()
    assert(bad == 0, s"$c has $bad rows outside $allowed")
  }
  def expr(df: DataFrame, e: String): Unit = {
    val bad = df.filter(!org.apache.spark.sql.functions.expr(e)).count()
    assert(bad == 0, s"'$e' fails on $bad rows")
  }
}

class MarsPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val p = MarsPipeline.fixtures(spark)

  // ---- silver flatten (G1-G5, P1-P3) ----

  test("flat_photo_response: one row per photo, typed columns") {
    val df = p.flatPhotoResponse
    assert(df.count() == 12)
    Expect.notNull(df, "image_id", "rover_name", "sol", "img_src")
    Expect.unique(df, "image_id")
    Expect.valuesIn(df, "rover_name",
      Seq("Perseverance", "Curiosity", "Opportunity", "Spirit"))
    Expect.expr(df, "sol >= 0")
    Expect.expr(df, "img_src LIKE 'http%'")
    assert(df.schema("earth_date").dataType.typeName == "date")
  }

  test("flat_manifest_response: one row per rover, keeps nested photos array") {
    val df = p.flatManifestResponse
    assert(df.count() == 4)
    Expect.notNull(df, "rover_name")
    Expect.unique(df, "rover_name")
    assert(df.schema("photos").dataType.typeName == "array")
  }

  test("flat_manifest_photos: one row per (rover, sol) with camera counts") {
    val df = p.flatManifestPhotos
    assert(df.count() == 10) // 4+3+2+1 manifest sols
    Expect.unique(df, "rover_name", "sol")
    val row = df.filter(col("rover_name") === "Perseverance" && col("sol") === 52).first()
    assert(row.getAs[Int]("manifest_total_photos") == 4)
    assert(row.getAs[Int]("manifest_camera_count") == 3)
  }

  test("flat_coordinate_response: one row per feature incl. null-rover edge") {
    val df = p.flatCoordinateResponse
    assert(df.count() == 5)
    // missing-rover-metadata feature survives with rover_name null
    // (reference: tests/test_coordinates.py:160-184)
    assert(df.filter(col("rover_name").isNull).count() == 1)
    Expect.notNull(df, "sol", "from_rmc", "to_rmc", "sclk_start", "sclk_end")
  }

  // ---- dims (P5, P7, A3, W1, W2, J1) ----

  test("dim_rovers: hardcoded rover_id CASE keys") {
    val ids = p.dimRovers.select("rover_name", "rover_id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ids == Map("Perseverance" -> 8, "Curiosity" -> 5,
      "Opportunity" -> 6, "Spirit" -> 7))
  }

  test("dim_cameras: dedup + category buckets + dense surrogate keys") {
    val df = p.dimCameras
    Expect.unique(df, "rover_id", "camera_name")
    Expect.unique(df, "camera_id")
    val cats = df.collect().map(r =>
      (r.getAs[Int]("rover_id"), r.getAs[String]("camera_name")) ->
        r.getAs[String]("camera_category")).toMap
    assert(cats((8, "NAVCAM_LEFT")) == "Engineering")
    assert(cats((8, "MCZ_RIGHT")) == "Science")
    assert(cats((8, "EDL_RUCAM")) == "Entry, Descent, and Landing")
    assert(cats((5, "MARDI")) == "Entry, Descent, and Landing")
    assert(cats((7, "UNKNOWN_CAM")) == "Other")
    // PANCAM appears for both Opportunity(6) and Spirit(7)
    assert(cats.contains((6, "PANCAM")) && cats.contains((7, "PANCAM")))
    // surrogate keys are 1..N (global ROW_NUMBER, W1)
    val keys = df.select("camera_id").collect().map(_.getInt(0)).sorted
    assert(keys.toSeq == (1 to keys.length))
  }

  test("dim_coordinate: ordinal flatten + composite arithmetic key") {
    val df = p.dimCoordinate
    // 3+1+2+3 Perseverance waypoints; null-rover feature dropped by inner join
    assert(df.count() == 9)
    Expect.unique(df, "coordinate_id")
    val sol50 = df.filter(col("sol") === 50).orderBy("coordinate_id").collect()
    assert(sol50.map(_.getAs[Long]("coordinate_id")).toSeq ==
      Seq(8000050001L, 8000050002L, 8000050003L))
    assert(sol50.map(_.getAs[Int]("waypoint_sequence")).toSeq == Seq(0, 1, 2))
    assert(sol50.head.getAs[Double]("longitude") == 77.31)
    assert(sol50.head.getAs[Double]("elevation") == -2350.79)
  }

  // ---- facts (P2, P6, P8) ----

  test("fact_path: day_type bucketing incl. Stationary-on-zero") {
    val byRmc = p.factPath.collect()
      .map(r => r.getAs[String]("from_rmc") -> r.getAs[String]("day_type")).toMap
    assert(byRmc("50_100") == "Long Travel") // 33.82
    assert(byRmc("51_100") == "Stationary") // 0.0
    assert(byRmc("52_2266") == "Minimal Movement") // 3.2
    assert(byRmc("52_2480") == "Short Travel") // 15.0
    assert(byRmc("52_X") == "Short Travel") // 5.5, null-rover feature → rover_id 0
  }

  test("fact_photos: rename projection") {
    val df = p.factPhotos
    assert(df.columns.toSeq == Seq("image_id", "nasa_camera_id", "camera_name",
      "sol", "rover_id", "earth_date", "img_src", "ingestion_date"))
    assert(df.count() == 12)
  }

  // ---- validation + scheduler (A1, J2, S13, S14) ----

  test("validation_photo_gaps: exactly the manifest sols with no photos") {
    val gaps = p.validationPhotoGaps.collect()
      .map(r => (r.getAs[String]("rover_name"), r.getAs[Int]("sol"))).toSet
    assert(gaps == Set(("Perseverance", 51), ("Curiosity", 2),
      ("Opportunity", 101), ("Spirit", 200)))
    val statuses = p.validationPhotoGaps.select("validation_status").distinct().collect()
    assert(statuses.map(_.getString(0)).toSeq == Seq("MISSING_SOL"))
    // actual counts are COALESCEd to 0 on the anti side
    Expect.expr(p.validationPhotoGaps, "actual_total_photos = 0")
    Expect.expr(p.validationPhotoGaps, "photo_count_diff = manifest_total_photos")
  }

  test("gap scheduler: batch limit, task fan-out, dense sol range") {
    val batch = GapScheduler.nextBatch(p.validationPhotoGaps)
    assert(batch.count() == 4)
    val sched = GapScheduler.schedule(batch)
    assert(sched.tasks.toSet == Set(
      GapScheduler.IngestionTask("Curiosity", 2),
      GapScheduler.IngestionTask("Opportunity", 101),
      GapScheduler.IngestionTask("Perseverance", 51),
      GapScheduler.IngestionTask("Spirit", 200)))
    // dense range across batch min..max (reference: snowflake.py:94)
    assert(sched.sol_range == (2 to 200))
    assert(sched.toJson.contains(""""rover_name":"Curiosity","sol":2"""))
  }

  // ---- marts (A2, J3, J4, P9, P10) ----

  test("daily_activity: Perseverance-only, category pivot, Stationary default") {
    val rows = p.dailyActivity.collect()
    assert(rows.map(_.getAs[String]("rover_name")).toSet == Set("Perseverance"))
    val bySolDay = rows.map(r => (r.getAs[Int]("sol_number"), r.getAs[String]("day_type")) -> r).toMap
    // sol 53 has photos but no path row → Stationary / 0.0 via COALESCE
    val s53 = bySolDay((53, "Stationary"))
    assert(s53.getAs[Double]("travel_distance") == 0.0)
    assert(s53.getAs[Long]("science_photo_count") == 1) // SHERLOC_WATSON
    // sol 52 has TWO path segments → two groups (fan-out preserved)
    assert(rows.count(_.getAs[Int]("sol_number") == 52) == 2)
    // sol 50, one segment: 2 engineering (NAVCAM_LEFT ×2) + 1 science (MCZ)
    val s50 = bySolDay((50, "Long Travel"))
    assert(s50.getAs[Long]("engineering_photo_count") == 2)
    assert(s50.getAs[Long]("science_photo_count") == 1)
    assert(s50.getAs[Long]("edl_photo_count") == 0)
  }

  test("camera_travel_correlation: SCLK regex + BETWEEN + segment fan-out") {
    val df = p.cameraTravelCorrelation
    val rows = df.collect()
    // Perseverance only; sol 53 has no path → dropped by inner join;
    // sols 50 (4 photos × 1 seg... 3 photos) + 52 (4 photos × 2 segs)
    assert(rows.map(_.getAs[String]("rover_name")).toSet == Set("Perseverance"))
    assert(rows.length == 3 * 1 + 4 * 2) // sol50: 3 photos×1 seg; sol52: 4×2
    // photo 1004 (t=768850300) in segment A only
    val p1004 = rows.filter(_.getAs[String]("image_link").contains("0768850300"))
    assert(p1004.length == 2)
    val byStart = p1004.map(r => r.getAs[Long]("travel_time_start") ->
      r.getAs[Boolean]("taken_during_travel")).toMap
    assert(byStart(768850261L) && !byStart(768860000L))
    // malformed img_src → null photo_time → null flag (Snowflake parity)
    val p1008 = rows.filter(_.getAs[String]("image_link").contains("NOTIME"))
    assert(p1008.length == 2 && p1008.forall(r => r.isNullAt(r.fieldIndex("taken_during_travel"))))
  }

  test("photo_summary: projection of dim_rovers") {
    assert(p.photoSummary.count() == 4)
    Expect.unique(p.photoSummary, "rover_name")
  }

  // ---- bronze behaviors (S1-S9, P15) ----

  test("bronze: missing path yields typed empty relation, not an exception") {
    val df = Bronze.rawPhotoResponse(spark, "/nonexistent/never.jsonl")
    assert(df.count() == 0)
    assert(df.schema == Schemas.photoBatch)
  }

  test("bronze: corrupt JSONL lines become null rows, never a failed load") {
    // the reference's COPY INTO ... ON_ERROR='CONTINUE' contract
    val dir = java.nio.file.Files.createTempDirectory("bronze_corrupt")
    val f = dir.resolve("batch.jsonl")
    java.nio.file.Files.write(f,
      ("""{"filename":"ok.json","sol_start":1,"sol_end":2,"photo_count":0,"photos":[],"ingestion_date":"2024-01-01"}""" +
        "\n{not json at all\n" +
        """{"filename":"ok2.json","sol_start":3,"sol_end":4,"photo_count":0,"photos":[],"ingestion_date":"2024-01-02"}""" +
        "\n").getBytes)
    val df = Bronze.rawPhotoResponse(spark, f.toString)
    assert(df.count() == 3, "corrupt line must survive as a row, not abort the load")
    assert(df.filter(col("filename").isNull).count() == 1, "corrupt line → null row")
    assert(df.filter(col("filename").isNotNull).count() == 2)
  }

  test("filename prefix routing (sink + bronze loader)") {
    assert(RoverKeys.route("mars_rover_photos_batch_sol_1.json") == "photos")
    assert(RoverKeys.route("mars_rover_coordinates_x.json") == "coordinates")
    assert(RoverKeys.route("mars_rover_manifests_x.json") == "manifests")
    assert(RoverKeys.route("Mars_Rover_Photos.json") == "UNKNOWN") // case-sensitive, like the reference
    assert(RoverKeys.route("random.json") == "UNKNOWN")
  }

  // ---- incremental materialization (§2.9) ----

  test("incremental merge upserts by key via anti-join + swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val t = s"$dir/tbl"
    val v1 = Seq(("r1", 10, "2025-01-01T00:00:00"), ("r2", 20, "2025-01-01T00:00:00"))
      .toDF("k", "v", "ingestion_date")
    Incremental.upsertSnapshot(spark, t, v1, Seq("k"))
    val v2 = Seq(("r2", 99, "2025-01-02T00:00:00"), ("r3", 30, "2025-01-02T00:00:00"))
      .toDF("k", "v", "ingestion_date")
    Incremental.upsertSnapshot(spark, t, v2, Seq("k"))
    val out = Incremental.read(spark, t).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("r1" -> 10, "r2" -> 99, "r3" -> 30))
  }
}
