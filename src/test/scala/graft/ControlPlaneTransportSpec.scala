package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ControlPlane, FileTopicTransport, KafkaTopicTransport, TopicTransport}

/** The transport seam under the control plane (VERDICT r2 item 4): value
  * construction round-trips through per-topic parse for every topic, the
  * file binding is a faithful value-column log, and the Kafka binding is
  * selected by session config — so pointing the loop at a broker is a
  * config change, not a code change.
  */
class ControlPlaneTransportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_transport").toString

  test("buildValue -> parseValue round-trips the minio-events payload incl. URL-decode") {
    import spark.implicits._
    val payload = struct(
      lit("mars-images/photos%20batch%201.json").as("Key"),
      lit("s3:ObjectCreated:Put").as("EventName"))
    val out = Seq(1).toDF("x")
      .select(ControlPlane.buildValue(payload).as("value"))
      .select(ControlPlane.parseValue(ControlPlane.TopicMinioEvents, col("value")))
      .head.getString(0)
    assert(out === "mars-images/photos batch 1.json")
  }

  test("buildValue -> parseValue round-trips the load-complete payload") {
    import spark.implicits._
    val payload = struct(
      lit("/stage/x.jsonl").as("tmp_jsonl_staging_path"),
      lit("success").as("status"), lit("2026-01-01T00:00:00").as("timestamp"))
    val out = Seq(1).toDF("x")
      .select(ControlPlane.buildValue(payload).as("value"))
      .select(ControlPlane.parseValue(ControlPlane.TopicLoadComplete, col("value")))
      .head.getString(0)
    assert(out === "/stage/x.jsonl")
  }

  test("buildValue -> parseValue round-trips the scheduling payload") {
    import spark.implicits._
    val payload = struct(
      lit("success").as("status"), lit("t0").as("timestamp"),
      struct(
        array(struct(lit("Perseverance").as("rover_name"), lit(42).as("sol"))).as("tasks"),
        array(lit(40), lit(45)).as("sol_range")).as("ingestion_schedule"))
    val row = Seq(1).toDF("x")
      .select(ControlPlane.buildValue(payload).as("value"))
      .select(ControlPlane.parseValue(ControlPlane.TopicScheduling, col("value")).as("s"))
      .select("s.tasks", "s.sol_range")
      .head
    val task = row.getSeq[org.apache.spark.sql.Row](0).head
    assert(task.getString(0) === "Perseverance" && task.getInt(1) === 42)
    assert(row.getSeq[Int](1) === Seq(40, 45))
  }

  test("file transport is a value-column log: produce then read back verbatim") {
    val root = tmp()
    val t = FileTopicTransport(root)
    t.produce(spark, "some-topic", """{"a":1}""")
    t.produce(spark, "some-topic", """{"a":2}""")
    val values = t.readTopicBatch(spark, "some-topic")
      .collect().map(_.getString(0)).sorted
    assert(values.toSeq === Seq("""{"a":1}""", """{"a":2}"""))
  }

  test("transport selection: file by default, kafka via session config") {
    val root = tmp()
    assert(TopicTransport.forSession(spark, root) === FileTopicTransport(root))
    spark.conf.set(TopicTransport.TransportKey, "kafka")
    try {
      intercept[IllegalArgumentException] {
        TopicTransport.forSession(spark, root) // servers missing
      }
      spark.conf.set(TopicTransport.KafkaServersKey, "broker:9092")
      assert(TopicTransport.forSession(spark, root) ===
        KafkaTopicTransport("broker:9092"))
    } finally {
      spark.conf.unset(TopicTransport.TransportKey)
      spark.conf.unset(TopicTransport.KafkaServersKey)
    }
  }

  test("unparseable message becomes an all-null row, not a stream failure") {
    val root = tmp()
    ControlPlane.produce(root, ControlPlane.TopicLoadComplete, "not json at all")
    val rows = ControlPlane.readTopicBatch(spark, root,
      ControlPlane.TopicLoadComplete).collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
  }

  test("a reader listing a topic while producers write sees only whole messages") {
    val root = tmp()
    val t = FileTopicTransport(root)
    val topic = "race-topic"
    val dir = Files.createDirectories(Paths.get(root, topic))
    val (producers, perProducer) = (4, 500)
    // a message of many 8 KiB writes: Files.write's chunk size, so a
    // file stays partly written long enough for a listing to catch it
    val pad = "x" * 200000
    val mapper = new ObjectMapper()
    val (done, bad) = (new AtomicBoolean(false), new ConcurrentLinkedQueue[String]())
    val seen = scala.collection.mutable.Set.empty[String]
    // as the file source does: list the visible names and read each new
    // one once, never again
    def scan(): Unit = {
      val s = Files.list(dir)
      val names = try s.iterator.asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toList finally s.close()
      names.filterNot(seen).foreach { n =>
        seen += n
        val lines = Files.readString(dir.resolve(n)).split("\\n", -1)
        val whole = lines.length == 2 && lines(1).isEmpty &&
          Try(mapper.readTree(lines(0)).get("n").asInt).isSuccess
        if (!whole) bad.add(s"$n: ${lines.map(_.length).mkString("/")} chars")
      }
    }
    try {
      val reader = new Thread(() =>
        try { while (!done.get) scan(); scan() }
        catch { case e: Exception => bad.add(e.toString) })
      reader.start()
      val writers = (0 until producers).map(i => new Thread(() =>
        (0 until perProducer).foreach(j =>
          t.produceSparkless(topic, s"""{"n": ${i * perProducer + j}, "pad": "$pad"}"""))))
      writers.foreach(_.start())
      writers.foreach(_.join())
      done.set(true)
      reader.join()
      assert(bad.size == 0, s"messages listed before they were whole: ${bad.asScala.take(3)}")
      assert(seen.size == producers * perProducer)
    } finally {
      val s = Files.list(dir)
      try s.forEach(Files.delete(_)) finally s.close()
    }
  }
}
