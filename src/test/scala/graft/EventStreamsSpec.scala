package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Event, EventStreams}

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // offset from epoch 0: an event whose time equals the initial watermark
  // (0) is treated as late and dropped by stateful operators
  private def ts(minute: Int) = new Timestamp((60 + minute) * 60000L)

  test("windowed counts: batch and streaming agree on the same input") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 2, "click", 2.0),
      Event(3, ts(65), 1, "view", 4.0))
    // batch path
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour")
      .orderBy("window_start", "event_type").collect()
    assert(batch.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((ts(0), "click", 2L), (ts(60), "view", 1L)))
    // streaming path: window [0,60) emits once the watermark passes its end
    val input = MemoryStream[Event](spark)
    val q = EventStreams.windowedCounts(input.toDF(), "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events(2)) // advances watermark to minute 65 > window end 60
      q.processAllAvailable()
      val out = spark.table("wc").orderBy("window_start").collect()
      assert(out.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq((ts(0), "click", 2L)))
    } finally q.stop()
  }

  test("windowed counts on the RocksDB state store: same results, rocksdb metrics live") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, EventStreams.RocksDbProvider)
    try {
      val input = MemoryStream[Event](spark)
      val q = EventStreams.windowedCounts(input.toDF(), "1 hour", "0 seconds")
        .writeStream.format("memory").queryName("wc_rocks").outputMode("append").start()
      try {
        input.addData(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(10), 2, "click", 2.0))
        q.processAllAvailable()
        input.addData(Event(3, ts(65), 1, "view", 4.0))
        q.processAllAvailable()
        val out = spark.table("wc_rocks").orderBy("window_start").collect()
        assert(out.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq ==
          Seq((ts(0), "click", 2L)))
        val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet.asScala
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"expected RocksDB state store metrics, got: $metrics")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("windowed counts on the batch events table match a plain group-by") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val viaWindow = EventStreams.windowedCounts(events, "1 hour")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    val viaTrunc = events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("h", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaWindow == viaTrunc)
  }
}
