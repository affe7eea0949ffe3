package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed view of one row of the events table (TESTDATA.md). */
final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)

/** Event-time windows over the events table: [[EventStreams.windowedCounts]]
  * backs `q18_stream_window` and [[EventStreams.sessionWindows]] backs
  * `q19_session_window`. Each works on a batch DataFrame and identically on
  * a stream, where its watermark bounds the state to the windows still
  * open. The reference streams only control-plane events (its Kafka topics
  * are choreography, SURVEY §2.10).
  */
object EventStreams {

  /** State store provider for stateful streaming at scale. The default
    * (HDFSBackedStateStoreProvider) keeps every key of an operator's
    * state in executor heap; RocksDB keeps it off-heap on local disk with
    * incremental checkpointing. Set
    * `spark.sql.streaming.stateStore.providerClass` to this before
    * starting a windowed query over many open windows. EventStreamsSpec
    * runs [[windowedCounts]] on it end to end. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Tumbling event-time window aggregation with a watermark. Works on a
    * streaming DataFrame (append-mode emission once the watermark passes
    * window end) and identically on a batch DataFrame (watermark is a
    * no-op there), so the batch oracle and the stream share one
    * definition. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based session windows via the built-in session_window: merges
    * events whose gap is under `gap`; window end = last event + gap. Works
    * identically on batch and streaming input (streaming needs the
    * watermark for state eviction). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
}
