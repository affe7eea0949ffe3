package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.{Assemble, IngestSim}
import graft.mars.{GapScheduler, Warehouse}

/** The reference's event-driven pipeline loop (SURVEY §3 EP1→EP2→EP3) as
  * three Structured Streaming stages wired through control-plane topics:
  *
  *   EP1 load_stage:      minio-events        → bronze load → load-complete
  *   EP2 transform_stage: load-complete       → silver+gold build → gap set → ingestion-scheduling
  *   EP3 ingest_stage:    ingestion-scheduling→ per-task fetch → envelope → object store → minio-events
  *
  * Each stage is `readStream → foreachBatch` — the micro-batch function
  * collapses the reference's multi-task Airflow DAG into one transactional
  * unit, and every Kafka/XCom/Celery boundary becomes a function call
  * (SURVEY §3 control-crossings summary). The stages also work standalone
  * as batch functions (`loadStage`/`transformStage`/`ingestStage`) — the
  * driver-side orchestration path of SURVEY §7.1 step 6.
  */
final case class Orchestrator(spark: SparkSession, topicsRoot: String,
                              objectStore: String, warehouse: Warehouse,
                              clock: () => String) {

  /** EP1: routed bronze load for each uploaded object key. */
  def loadStage(keys: Seq[String]): Unit =
    keys.foreach { key =>
      val filename = key.split("/").last
      val loaded = warehouse.loadBronze(s"$objectStore/$key", filename)
      if (loaded != "UNKNOWN")
        ControlPlane.produce(topicsRoot, ControlPlane.TopicLoadComplete,
          ControlPlane.loadCompleteJson(s"$objectStore/$key", clock()))
    }

  /** EP2: flatten → aggregate → gap fetch → schedule (ordering enforced,
    * like transformation_dag.py:70). The gaps are the set the warehouse
    * maintains from silver's commit entries (`Warehouse.gapKeys`), not a
    * scan of silver: a photo-only cycle runs only the silver append's
    * two jobs. */
  def transformStage(): GapScheduler.IngestionSchedule = {
    warehouse.buildSilver()
    warehouse.buildGold()
    val sched = GapScheduler.schedule(warehouse.gapKeys())
    if (sched.tasks.nonEmpty)
      ControlPlane.produce(topicsRoot, ControlPlane.TopicScheduling,
        ControlPlane.schedulingJson(sched.toJson, clock()))
    sched
  }

  /** EP3: dynamic fan-out over (rover, sol) tasks → one batch envelope →
    * object-store upload → the loop re-enters EP1 via a new event. The
    * reference's Airflow dynamic task mapping becomes Spark's own
    * executor parallelism: the schedule is one DataFrame of tasks, fetched
    * in at most one Spark task per core. */
  def ingestStage(tasks: Seq[GapScheduler.IngestionTask], solRange: Seq[Int]): Option[String] = {
    if (tasks.isEmpty) return None
    val envelope = Assemble.photosEnvelope(IngestSim.photos(spark, tasks), solRange, clock())
    val key = Assemble.uploadJson(envelope, objectStore)
    ControlPlane.produce(topicsRoot, ControlPlane.TopicMinioEvents,
      ControlPlane.minioEventJson(key))
    Some(key)
  }

  // ---- streaming wiring ----

  private def start(topic: String)(handle: DataFrame => Unit): StreamingQuery =
    ControlPlane.readTopic(spark, topicsRoot, topic)
      .writeStream
      .queryName(s"graft-$topic")
      .option("checkpointLocation", s"$topicsRoot/_checkpoints/$topic")
      .foreachBatch { (batch: DataFrame, _: Long) => handle(batch) }
      .trigger(Trigger.ProcessingTime(0))
      .start()

  def startLoadStream(): StreamingQuery =
    start(ControlPlane.TopicMinioEvents) { batch =>
      // an unparseable message is an all-null row: skip it, don't fail
      val keys = batch.select(url_decode(col("Key")).as("key"))
        .collect().flatMap(r => Option(r.getString(0))).toSeq
      loadStage(keys)
    }

  def startTransformStream(): StreamingQuery =
    start(ControlPlane.TopicLoadComplete) { batch =>
      if (batch.limit(1).count() > 0) transformStage()
    }

  def startIngestStream(): StreamingQuery =
    start(ControlPlane.TopicScheduling) { batch =>
      // a message that is not a whole schedule (an unparseable one is an
      // all-null row) and a task without a sol are skipped, not a failure
      batch.select(col("ingestion_schedule.tasks"), col("ingestion_schedule.sol_range"))
        .filter(col("tasks").isNotNull && col("sol_range").isNotNull)
        .collect().foreach { row =>
          val tasks = row.getSeq[Row](0).filterNot(_.isNullAt(1)).map(t =>
            GapScheduler.IngestionTask(t.getString(0), t.getInt(1)))
          ingestStage(tasks, row.getSeq[Int](1))
        }
    }

  def startAll(): Seq[StreamingQuery] =
    Seq(startLoadStream(), startTransformStream(), startIngestStream())
}
