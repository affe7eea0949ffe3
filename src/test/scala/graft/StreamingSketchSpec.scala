package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.AggSink
import graft.text.TextOps

/** Sketches ARE streaming-maintainable with zero new machinery: the CMS
  * cell table and the linear-counting bitmap are key-grain algebraic
  * aggregates (counts / presence), so [[AggSink]]'s exactly-once
  * foreachBatch mart — built for the gold-layer aggregates — maintains
  * them across micro-batches unchanged. These specs pin the equivalence:
  * stream-maintained sketch == batch sketch over the union of the
  * batches, which is exactly the cell-wise mergeability
  * SamplingSketchSpec proves on static frames.
  */
class StreamingSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp() = Files.createTempDirectory("sketch_stream").toString

  private def cmsCells(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("term"))
      .select(explode(array((0 until 3).map(i =>
        struct(lit(i).as("srow"),
          (TextOps.md5Long(concat(lit(s"cms$i:"), col("term")))
            % lit(64L)).as("ccol"))): _*)).as("c"))
      .select(col("c.srow").as("srow"), col("c.ccol").as("ccol"))

  test("CMS maintained by AggSink across micro-batches == batch sketch") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val mart = tmp(); val ckpt = tmp()
    val input = MemoryStream[(Long, String)](spark)
    val q = AggSink.aggStream(
      cmsCells(input.toDF().toDF("doc_id", "text")),
      mart, keys = Seq("srow", "ccol"), checkpointDir = ckpt)
    try {
      input.addData((1L, "alpha beta alpha"), (2L, "beta gamma"))
      q.processAllAvailable()
      input.addData((3L, "alpha delta"), (4L, "gamma gamma gamma"))
      q.processAllAvailable()
      val streamed = AggSink.read(spark, mart)
        .select("srow", "ccol", "n_rows").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = TextOps.cmsSketch(
        Seq("alpha beta alpha", "beta gamma", "alpha delta", "gamma gamma gamma")
          .toDF("text").select(explode(split(col("text"), " ")).as("term")),
        col("term"), depth = 3, width = 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("LC bitmap maintained as a presence mart == batch linearCount") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val mart = tmp(); val ckpt = tmp()
    val input = MemoryStream[String](spark)
    val cells = (df: DataFrame) => df
      .select(explode(split(col("value"), " ")).as("it"))
      .select(lit(1024).as("m"),
        (TextOps.md5Long(concat(lit("lc:"), col("it"))) % lit(1024L)).as("bucket"))
    val q = AggSink.aggStream(cells(input.toDF()), mart,
      keys = Seq("m", "bucket"), checkpointDir = ckpt)
    try {
      input.addData("a b c d", "c d e")
      q.processAllAvailable()
      input.addData("e f g", "a a a")
      q.processAllAvailable()
      // occupied = mart row count (presence, duplicate-insensitive by the
      // key grain); compare against the batch sketch over the same items
      val occupied = AggSink.read(spark, mart).count()
      val batchRow = TextOps.linearCount(
        Seq("a", "b", "c", "d", "c", "d", "e", "e", "f", "g", "a", "a", "a")
          .toDF("it"), col("it"), Seq(1024)).collect().head
      assert(occupied == batchRow.getLong(2))
      assert(batchRow.getLong(1) == 7L) // exact distinct a..g
    } finally q.stop()
  }

  test("histogram-quantile cells maintained by AggSink == batch histogram") {
    import spark.implicits._
    val mart = tmp(); val ckpt = tmp()
    val input = MemoryStream[(String, Long)](spark)
    // the quantile sketch's aggregation state IS (grp, bucket) counts —
    // per-key algebraic, so the same exactly-once mart maintains it
    val cells = (df: DataFrame) => df
      .select(col("grp"), floor(col("v").cast("double") / 10).as("bucket"))
    val q = AggSink.aggStream(cells(input.toDF().toDF("grp", "v")), mart,
      keys = Seq("grp", "bucket"), checkpointDir = ckpt)
    try {
      input.addData(("a", 3L), ("a", 17L), ("b", 42L))
      q.processAllAvailable()
      input.addData(("a", 11L), ("a", 95L), ("b", 44L))
      q.processAllAvailable()
      val streamed = AggSink.read(spark, mart)
        .select("grp", "bucket", "n_rows").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Seq(("a", 3L), ("a", 17L), ("b", 42L), ("a", 11L),
          ("a", 95L), ("b", 44L)).toDF("grp", "v")
        .select(col("grp"), floor(col("v").cast("double") / 10).as("bucket"))
        .groupBy("grp", "bucket").count()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}
