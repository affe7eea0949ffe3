package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's three-topic Kafka control plane (SURVEY §2.10),
  * re-expressed for Structured Streaming.
  *
  * Topics carry small JSON coordination messages — never bulk data. The
  * wire itself lives behind [[TopicTransport]] — every transport delivers
  * a `value: STRING` column per message (the Kafka message shape), and
  * this layer owns everything topic-SEMANTIC: payload schemas, per-topic
  * parse, URL-decode of object keys, value construction. The sandbox
  * binding is the file log; `spark.graft.transport=kafka` selects the
  * compiled-in `format("kafka")` binding with identical semantics.
  */
object ControlPlane {

  val TopicMinioEvents = "minio-events"
  val TopicLoadComplete = "snowflake-load-complete"
  val TopicScheduling = "ingestion-scheduling"

  /** reference payload shapes (src/utils/kafka.py:9-24, snowflake.py:61-65,
    * snowflake.py:104-111). */
  val minioEventSchema: StructType = StructType(Seq(
    StructField("Key", StringType), StructField("EventName", StringType)))

  val loadCompleteSchema: StructType = StructType(Seq(
    StructField("tmp_jsonl_staging_path", StringType),
    StructField("status", StringType), StructField("timestamp", StringType)))

  val taskSchema: StructType = StructType(Seq(
    StructField("rover_name", StringType), StructField("sol", IntegerType)))

  val schedulingSchema: StructType = StructType(Seq(
    StructField("status", StringType), StructField("timestamp", StringType),
    StructField("ingestion_schedule", StructType(Seq(
      StructField("tasks", ArrayType(taskSchema)),
      StructField("sol_range", ArrayType(IntegerType)))))))

  def schemaFor(topic: String): StructType = topic match {
    case TopicMinioEvents => minioEventSchema
    case TopicLoadComplete => loadCompleteSchema
    case TopicScheduling => schedulingSchema
    case other => throw new IllegalArgumentException(s"unknown topic $other")
  }

  /** Per-topic field extraction from a raw JSON value column — the
    * Kafka-value-side of parse_kafka_message (kafka.py:5-24), including
    * the URL-decode of MinIO object keys (kafka.py:11, P14). */
  def parseValue(topic: String, value: Column): Column = {
    val parsed = from_json(value, schemaFor(topic))
    topic match {
      case TopicMinioEvents => url_decode(parsed.getField("Key"))
      case TopicLoadComplete => parsed.getField("tmp_jsonl_staging_path")
      case TopicScheduling => parsed.getField("ingestion_schedule")
      case _ => value // unknown topic → raw payload + warning, reference behavior
    }
  }

  /** Producer-side value construction — the inverse of [[parseValue]]:
    * the topic payload struct serialized to the JSON string a Kafka
    * `value` column carries. ControlPlaneTransportSpec pins the
    * round-trip `parseValue(topic, buildValue(payload))`. */
  def buildValue(payload: Column): Column = to_json(payload)

  /** Expand a raw `value: STRING` message stream into the topic's typed
    * top-level columns (unparseable messages become all-null rows — the
    * reference's warn-and-continue consumer contract, kafka.py:20-24). */
  private def parsed(topic: String, raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), schemaFor(topic)).as("m")).select("m.*")

  /** Streaming source for one topic (typed columns, any transport). */
  def readTopic(spark: SparkSession, root: String, topic: String): DataFrame =
    parsed(topic, TopicTransport.forSession(spark, root).readTopic(spark, topic))

  /** Batch view of a topic log (tests / catch-up reads). */
  def readTopicBatch(spark: SparkSession, root: String, topic: String): DataFrame =
    parsed(topic,
      TopicTransport.forSession(spark, root).readTopicBatch(spark, topic))

  /** Produce one message via the session-selected transport. Genuinely
    * sparkless when no session exists: the file binding is plain file IO
    * (a lightweight producer process needs no SparkSession). A sparkless
    * producer in a Kafka-configured deployment (`spark.graft.transport`
    * system property — the JVM-level mirror of the session conf) FAILS
    * rather than silently appending to a file log no consumer reads. */
  def produce(root: String, topic: String, json: String): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) =>
        TopicTransport.forSession(spark, root).produce(spark, topic, json)
      case None =>
        require(!sys.props.get(TopicTransport.TransportKey).contains("kafka"),
          s"${TopicTransport.TransportKey}=kafka needs a SparkSession to produce")
        FileTopicTransport(root).produceSparkless(topic, json)
    }

  /** `s` as a JSON string literal: quote, backslash and the control
    * characters below 0x20 escaped, every other character as it is — so
    * a plain name gives the same bytes as pasting it between quotes. */
  def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def minioEventJson(key: String): String =
    s"""{"Key":${jsonString(key)},"EventName":"s3:ObjectCreated:Put"}"""

  def loadCompleteJson(path: String, ts: String): String =
    s"""{"tmp_jsonl_staging_path":${jsonString(path)},"status":"success",""" +
      s""""timestamp":${jsonString(ts)}}"""

  /** scheduleJson is GapScheduler.IngestionSchedule.toJson —
    * `{"ingestion_schedule":{...}}` — spliced into the full message. */
  def schedulingJson(scheduleJson: String, ts: String): String = {
    val body = scheduleJson.trim.stripPrefix("{").stripSuffix("}")
    s"""{"status":"success","timestamp":${jsonString(ts)},$body}"""
  }
}
