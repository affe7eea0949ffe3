package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Event

/** Output-mode and trigger semantics of Spark's streaming engine, on the
  * events rows the windowed queries read (EventStreamsSpec covers
  * `windowedCounts` itself):
  *
  *  - UPDATE mode re-emits a key's row every batch its value changes —
  *    the mode for live dashboards reading a mutable sink; APPEND holds a
  *    window until the watermark closes it (EventStreamsSpec asserts
  *    that), exactly-once for append-only sinks.
  *  - Trigger.AvailableNow drains the backlog in bounded batches and
  *    terminates — the scheduled-catch-up runner for continuous-ingest
  *    pipelines: each cron tick processes what accumulated, checkpoints,
  *    exits.
  */
class StreamingModesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def ts(minute: Int) = new Timestamp((60 + minute) * 60000L)

  test("update mode emits a revision of the changed keys each batch") {
    import spark.implicits._
    val input = MemoryStream[Event](spark)
    val agg = input.toDF()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("upd")
      .outputMode("update").start()
    try {
      input.addData(Event(1, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(2, ts(10), 2, "click", 2.0),
        Event(3, ts(11), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("upd").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      // batch 1 emitted click=1; batch 2 re-emitted the REVISED click=2
      // and the new view=1 — but never re-emitted an unchanged key
      assert(rows.sorted == Seq(("click", 1L), ("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("checkpoint recovery: restarted query resumes offsets and state, no double counting") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val input = MemoryStream[Event](spark)
      def runOnce(name: String): Map[String, Long] = {
        val q = input.toDF()
          .withWatermark("ts", "0 seconds")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000))
        spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      input.addData(Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 2, "click", 1.0))
      assert(runOnce("ck_run1") == Map("click" -> 2L))
      // second run against the SAME checkpoint: aggregation state resumed
      // (old clicks counted once, not re-read), new data merged in
      input.addData(Event(3, ts(3), 3, "click", 1.0),
        Event(4, ts(4), 3, "view", 1.0))
      assert(runOnce("ck_run2") == Map("click" -> 3L, "view" -> 1L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(ckpt)).deleteRecursively()
      ()
    }
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own") {
    import spark.implicits._
    val input = MemoryStream[Event](spark)
    // backlog exists BEFORE the query starts
    input.addData(Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "click", 1.0), Event(3, ts(3), 2, "view", 1.0))
    val q = input.toDF().groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("an")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "AvailableNow query must terminate once the backlog is drained")
    val out = spark.table("an").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("click" -> 2L, "view" -> 1L))
  }
}
