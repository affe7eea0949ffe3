package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.mars.{GapScheduler, Incremental, MarsPipeline, Schemas, Warehouse}
import graft.streaming.{ControlPlane, Orchestrator}

/** End-to-end test of the closed feedback loop (SURVEY §3 EP1→EP2→EP3):
  * seeded uploads → bronze load → silver/gold build → gap detection →
  * scheduled ingestion → re-load → gaps drained.
  */
class OrchestratorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Copy a fixture bronze doc into the object store under its routed
    * prefix, returning the object key (simulates the reference's seeded
    * MinIO uploads). */
  private def seed(objectStore: String, fixtureFile: String,
                   edit: String => String = identity): String = {
    val src = Paths.get(MarsPipeline.defaultFixtureDir, fixtureFile)
    val line = edit(Files.readString(src).trim)
    val fn = """"filename": "([^"]+)"""".r.findFirstMatchIn(line).get.group(1)
    val prefix = graft.mars.RoverKeys.route(fn)
    val dir = Paths.get(objectStore, prefix)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(fn), line + "\n")
    s"$prefix/$fn"
  }

  private def mkOrchestrator(tag: String): (Orchestrator, Warehouse, String, String) = {
    val root = Files.createTempDirectory(s"graft_orch_$tag").toString
    val topics = s"$root/topics"
    val store = s"$root/store"
    val wh = Warehouse(spark, s"$root/warehouse")
    val clock = () => java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    (Orchestrator(spark, topics, store, wh, clock), wh, topics, store)
  }

  /** Drive the three streams' micro-batches until the loop quiesces:
    * events→load, complete→transform(schedule), schedule→ingest(event),
    * event→load, complete→transform(no gaps). */
  private def drain(queries: Seq[StreamingQuery], wh: Warehouse): Unit = {
    val Seq(load, transform, ingest) = queries
    var spins = 0
    var drained = false
    while (!drained && spins < 6) {
      load.processAllAvailable()
      transform.processAllAvailable()
      ingest.processAllAvailable()
      spins += 1
      drained = spins >= 2 && wh.validationPhotoGaps.count() == 0
    }
    assert(drained, s"gap queue not drained after $spins loop spins")
  }

  test("batch orchestration closes the loop and drains the gap queue") {
    val (orch, wh, topics, store) = mkOrchestrator("batch")
    val keys = Seq("photos.jsonl", "manifests.jsonl", "coordinates.jsonl")
      .map(seed(store, _))

    orch.loadStage(keys)
    assert(ControlPlane.readTopicBatch(spark, topics, ControlPlane.TopicLoadComplete)
      .count() == 3)

    val sched = orch.transformStage()
    assert(sched.tasks.map(t => (t.rover_name, t.sol)).toSet ==
      Set(("Perseverance", 51), ("Curiosity", 2), ("Opportunity", 101), ("Spirit", 200)))
    assert(sched.sol_range == (2 to 200))

    val newKey = orch.ingestStage(sched.tasks, sched.sol_range)
    assert(newKey.isDefined && newKey.get.startsWith("photos/"))

    // loop re-entry: load the fresh batch, rebuild → queue drains
    orch.loadStage(Seq(newKey.get))
    val sched2 = orch.transformStage()
    assert(sched2.tasks.isEmpty, s"expected drained gap queue, got ${sched2.tasks}")
    assert(wh.validationPhotoGaps.count() == 0)

    // gold marts materialized and incremental (second build appended nothing stale)
    assert(Incremental.read(spark, wh.goldDailyActivity).count() > 0)
    assert(Incremental.read(spark, wh.goldCameraTravel)
      .filter(col("sol_number") === 51).count() > 0) // ingested gap sol reached gold
  }

  test("streaming orchestration: three foreachBatch stages wire the same loop") {
    val (orch, wh, topics, store) = mkOrchestrator("stream")
    val queries = orch.startAll()
    try {
      Seq("photos.jsonl", "manifests.jsonl", "coordinates.jsonl").foreach { f =>
        val key = seed(store, f)
        ControlPlane.produce(topics, ControlPlane.TopicMinioEvents,
          ControlPlane.minioEventJson(key))
      }
      drain(queries, wh)
      // at-least-once: every load-complete micro-batch triggers a transform,
      // so the same gap schedule may be re-emitted until ingestion lands —
      // reference behavior (each Kafka msg triggers a full dbt DAG run)
      val nSched = ControlPlane.readTopicBatch(spark, topics,
        ControlPlane.TopicScheduling).count()
      assert(nSched >= 1, s"unexpected scheduling count $nSched")
      assert(Incremental.read(spark, wh.goldDailyActivity).count() > 0)
    } finally queries.foreach(_.stop())
  }

  test("an unknown rover in a schedule lands no photos and fails nothing (S1)") {
    val (orch, wh, _, store) = mkOrchestrator("unknown_rover")
    val tasks = Seq(("Curiosity", 2), ("Phoenix", 7), ("Perseverance", 51))
      .map { case (r, s) => GapScheduler.IngestionTask(r, s) }
    val key = orch.ingestStage(tasks, 2 to 51).get
    val doc = spark.read.schema(Schemas.photoBatch).json(s"$store/$key")
      .select(col("photo_count"), explode(col("photos.rover.name")).as("rover"))
      .collect()
    // IngestSim lands two cameras per known rover and sol
    assert(doc.map(_.getInt(0)).toSet == Set(4))
    assert(doc.map(_.getString(1)).sorted.toSeq ==
      Seq("Curiosity", "Curiosity", "Perseverance", "Perseverance"))

    orch.loadStage(Seq(key))
    wh.buildSilver()
    assert(wh.flatPhotos.select(col("rover_name"), col("sol")).distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("Curiosity", 2), ("Perseverance", 51)))
  }

  test("a malformed control-plane message is skipped; the streams keep running") {
    val (orch, wh, topics, store) = mkOrchestrator("malformed")
    val queries = orch.startAll()
    try {
      Seq("photos.jsonl", "manifests.jsonl", "coordinates.jsonl").foreach { f =>
        ControlPlane.produce(topics, ControlPlane.TopicMinioEvents,
          ControlPlane.minioEventJson(seed(store, f)))
      }
      Seq(ControlPlane.TopicMinioEvents, ControlPlane.TopicLoadComplete,
        ControlPlane.TopicScheduling).foreach(ControlPlane.produce(topics, _, "not json at all"))
      // schedules that parse but lack a sol range, or a task's sol
      Seq("""{"tasks":[{"rover_name":"Spirit","sol":1}]}""",
        """{"tasks":[{"rover_name":"Spirit"}],"sol_range":[1]}""").foreach { sched =>
        ControlPlane.produce(topics, ControlPlane.TopicScheduling,
          ControlPlane.schedulingJson(s"""{"ingestion_schedule":$sched}""", "t"))
      }
      drain(queries, wh)
      queries.foreach { q =>
        assert(q.isActive && q.exception.isEmpty, s"${q.name} stopped: ${q.exception}")
      }
      assert(Incremental.read(spark, wh.goldDailyActivity).count() > 0)
    } finally queries.foreach(_.stop())
  }

  test("names holding a quote, a backslash or a control character survive the control plane") {
    val (orch, _, topics, store) = mkOrchestrator("escape")
    val odd = "Cu\"rio\\sity\t\u0001"
    val oddInJson = "Cu\\\"rio\\\\sity\\t\\u0001" // as the manifest's JSON spells it
    val keys = Seq("photos.jsonl", "coordinates.jsonl").map(seed(store, _)) :+
      seed(store, "manifests.jsonl", _.replace("\"Curiosity\"", "\"" + oddInJson + "\""))
    orch.loadStage(keys)
    val sched = orch.transformStage()
    assert(sched.tasks.exists(_.rover_name == odd), sched.tasks)
    // the ingest stream reads this message: an invalid one is an all-null
    // row, and its tasks would never be fetched
    val sent = ControlPlane.readTopicBatch(spark, topics, ControlPlane.TopicScheduling)
      .select(explode(col("ingestion_schedule.tasks")).as("t"))
      .select(col("t.rover_name"), col("t.sol")).collect()
      .map(r => GapScheduler.IngestionTask(r.getString(0), r.getInt(1))).toSeq
    assert(sent == sched.tasks)

    ControlPlane.produce(topics, ControlPlane.TopicMinioEvents, ControlPlane.minioEventJson(odd))
    ControlPlane.produce(topics, ControlPlane.TopicLoadComplete,
      ControlPlane.loadCompleteJson(odd, odd))
    assert(ControlPlane.readTopicBatch(spark, topics, ControlPlane.TopicMinioEvents)
      .select("Key").collect().map(_.getString(0)).toSeq == Seq(odd))
    assert(ControlPlane.readTopicBatch(spark, topics, ControlPlane.TopicLoadComplete)
      .filter(col("timestamp") === odd).select("tmp_jsonl_staging_path")
      .collect().map(_.getString(0)).toSeq == Seq(odd))
  }

  test("streaming stage resumes from its checkpoint without reprocessing") {
    val (orch, _, topics, store) = mkOrchestrator("resume")
    val q1 = orch.startLoadStream()
    try {
      val key1 = seed(store, "manifests.jsonl")
      ControlPlane.produce(topics, ControlPlane.TopicMinioEvents,
        ControlPlane.minioEventJson(key1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ControlPlane.readTopicBatch(spark, topics,
      ControlPlane.TopicLoadComplete).count() == 1)

    // an event arrives while the stage is down
    val key2 = seed(store, "coordinates.jsonl")
    ControlPlane.produce(topics, ControlPlane.TopicMinioEvents,
      ControlPlane.minioEventJson(key2))

    // restart: only the new event is processed (checkpoint skips the old)
    val q2 = orch.startLoadStream()
    try q2.processAllAvailable() finally q2.stop()
    assert(ControlPlane.readTopicBatch(spark, topics,
      ControlPlane.TopicLoadComplete).count() == 2,
      "restart must process exactly the one missed event")
  }

  test("topic value parsing: per-topic extraction incl. URL-decoded keys") {
    import spark.implicits._
    val df = Seq("""{"Key":"photos/mars%20rover.json","EventName":"s3:ObjectCreated:Put"}""")
      .toDF("value")
    val key = df.select(ControlPlane.parseValue(ControlPlane.TopicMinioEvents,
      col("value")).as("k")).first().getString(0)
    assert(key == "photos/mars rover.json")

    val sdf = Seq(
      """{"status":"success","timestamp":"t","ingestion_schedule":{"tasks":[{"rover_name":"Spirit","sol":7}],"sol_range":[7]}}""")
      .toDF("value")
    val s = sdf.select(ControlPlane.parseValue(ControlPlane.TopicScheduling,
      col("value")).as("s")).first().getStruct(0)
    assert(s.getSeq[org.apache.spark.sql.Row](0).head.getString(0) == "Spirit")
  }
}
