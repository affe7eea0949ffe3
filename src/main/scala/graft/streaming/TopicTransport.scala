package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Transport abstraction under the control plane (VERDICT r2 item 4).
  *
  * The contract is the Kafka message shape: every transport yields a
  * DataFrame with a single STRING `value` column, one row per message,
  * and accepts a raw JSON string on produce. Everything topic-specific —
  * payload schemas, per-topic parse, URL-decode — lives above this line
  * in [[ControlPlane]], so swapping transports changes NOTHING about
  * query semantics.
  *
  * Two bindings compile in:
  *  - [[FileTopicTransport]] — a durable append-only log of one-line JSON
  *    files. The sandbox default (no broker here), also genuinely useful
  *    for tests and replay.
  *  - [[KafkaTopicTransport]] — `format("kafka")` source/sink against a
  *    real broker (reference: src/utils/kafka.py:42-57 + the three topics
  *    in docker-compose.yml:93-95). Selected per session with
  *      spark.graft.transport=kafka
  *      spark.graft.kafka.servers=host:9092
  *    Needs the spark-sql-kafka connector on the classpath at runtime
  *    (string-based DataSource lookup — this module does not link against
  *    it).
  */
trait TopicTransport {
  /** Streaming source for one topic: a `value: STRING` column. */
  def readTopic(spark: SparkSession, topic: String): DataFrame
  /** Batch view of the topic log from the beginning (tests / catch-up). */
  def readTopicBatch(spark: SparkSession, topic: String): DataFrame
  /** Append one message. */
  def produce(spark: SparkSession, topic: String, json: String): Unit
}

/** One message = one one-line JSON file; unique names make every write an
  * append, and the file-source's exactly-once file tracking provides the
  * offset semantics Kafka would. */
final case class FileTopicTransport(root: String) extends TopicTransport {
  private def dir(topic: String): String = {
    Files.createDirectories(Paths.get(root, topic)) // source dir must pre-exist
    s"$root/$topic"
  }

  override def readTopic(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.text(dir(topic)).select(col("value"))

  override def readTopicBatch(spark: SparkSession, topic: String): DataFrame =
    spark.read.text(dir(topic)).select(col("value"))

  override def produce(spark: SparkSession, topic: String, json: String): Unit =
    produceSparkless(topic, json)

  /** The file binding needs no session at all — plain file IO, usable
    * from a lightweight producer process (ControlPlane.produce's
    * sessionless path calls this directly, never with a null session). */
  def produceSparkless(topic: String, json: String): Unit = {
    val d = Paths.get(root, topic)
    Files.createDirectories(d)
    // flush-per-message like the reference producer (kafka.py:42-57);
    // written under a hidden name, which the file source does not list,
    // and renamed in whole: a listing that caught a half-written file
    // would mark it seen and lose the message
    val name = s"${System.nanoTime()}_${UUID.randomUUID()}.json"
    val tmp = Files.writeString(d.resolve(s".$name.tmp"), json + "\n")
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The real-broker binding. Value bytes are cast to STRING on read; the
  * producer writes a `value` column — the exact construction
  * [[ControlPlane.buildValue]] round-trips in ControlPlaneTransportSpec.
  *
  * Every option map and the value projection live on the companion as
  * plain data, consumed verbatim by the reader/writer builders below —
  * so the binding's full wire contract is assertable in a unit spec
  * (KafkaContractSpec) without a broker or the connector jar, and a
  * deployment reading the spec knows exactly what reaches the
  * DataSource lookup. */
final case class KafkaTopicTransport(bootstrapServers: String) extends TopicTransport {
  import KafkaTopicTransport._

  override def readTopic(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.format(Format)
      .options(sourceOptions(bootstrapServers, topic))
      .load()
      .selectExpr(ValueProjection)

  override def readTopicBatch(spark: SparkSession, topic: String): DataFrame =
    spark.read.format(Format)
      .options(batchOptions(bootstrapServers, topic))
      .load()
      .selectExpr(ValueProjection)

  override def produce(spark: SparkSession, topic: String, json: String): Unit = {
    import spark.implicits._
    Seq(json).toDF(SinkValueColumn)
      .write.format(Format)
      .options(sinkOptions(bootstrapServers, topic))
      .save()
  }
}

object KafkaTopicTransport {
  /** String-based DataSource lookup key — resolved at runtime, so this
    * module never links against the connector. */
  val Format = "kafka"

  /** The projection applied to the connector's wire schema: of its seven
    * output columns (key/value binary, topic, partition, offset,
    * timestamp, timestampType) the transport contract keeps exactly
    * `value`, decoded bytes→string. */
  val ValueProjection = "CAST(value AS STRING) AS value"

  /** The one column the kafka sink requires on the produce side. */
  val SinkValueColumn = "value"

  /** Streaming-source options: earliest offsets — the control-plane
    * topics are short command logs, replayed from the beginning like the
    * file binding does. */
  def sourceOptions(servers: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest")

  /** Batch catch-up read: the full log, bounded at the current end. */
  def batchOptions(servers: String, topic: String): Map[String, String] =
    sourceOptions(servers, topic) + ("endingOffsets" -> "latest")

  def sinkOptions(servers: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "topic" -> topic)
}

object TopicTransport {
  val TransportKey = "spark.graft.transport"
  val KafkaServersKey = "spark.graft.kafka.servers"

  /** Config-selected binding: `spark.graft.transport=kafka` (plus
    * `spark.graft.kafka.servers`) → Kafka; anything else → the file log
    * rooted at `root`. */
  def forSession(spark: SparkSession, root: String): TopicTransport =
    spark.conf.getOption(TransportKey) match {
      case Some("kafka") =>
        val servers = spark.conf.getOption(KafkaServersKey).getOrElse(
          throw new IllegalArgumentException(
            s"$TransportKey=kafka requires $KafkaServersKey"))
        KafkaTopicTransport(servers)
      case _ => FileTopicTransport(root)
    }
}
