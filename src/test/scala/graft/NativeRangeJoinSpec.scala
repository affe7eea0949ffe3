package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.NativeRangeJoin

/** The custom physical operator gets the adversarial treatment: random
  * data diffed against the naive (nested-loop-planned) BETWEEN join that
  * defines the semantics, plus plan-shape and machinery checks.
  */
class NativeRangeJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def randomCase(seed: Int, nPoints: Int, nIntervals: Int, nKeys: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val points = (1 to nPoints).map { i =>
      (i.toLong, s"k${rnd.nextInt(nKeys)}", rnd.nextInt(1000).toLong)
    }.toDF("pid", "pkey", "p")
    val intervals = (1 to nIntervals).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i.toLong, s"k${rnd.nextInt(nKeys)}", lo, lo + rnd.nextInt(120).toLong)
    }.toDF("iid", "ikey", "lo", "hi")
    (points, intervals)
  }

  private def naiveKeyed(points: org.apache.spark.sql.DataFrame,
                         intervals: org.apache.spark.sql.DataFrame) =
    points.join(intervals,
        col("pkey") === col("ikey") && col("p").between(col("lo"), col("hi")))
      .select("pid", "iid").as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
      .collect().toSet

  test("keyed: matches the naive BETWEEN join on random data (5 seeds)") {
    for (seed <- 1 to 5) {
      val (points, intervals) = randomCase(seed, nPoints = 300, nIntervals = 200, nKeys = 7)
      val expected = naiveKeyed(points, intervals)
      val got = NativeRangeJoin.pointInInterval(
          points, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey")))
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("keyless: matches the naive BETWEEN join") {
    val (points, intervals) = randomCase(42, nPoints = 150, nIntervals = 80, nKeys = 1)
    val expected = points.join(intervals, col("p").between(col("lo"), col("hi")))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = NativeRangeJoin.pointInInterval(points, "p", intervals, "lo", "hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("nulls never match: null point, bound, or key rows are dropped") {
    import spark.implicits._
    val points = Seq(
      (1L, Some("a"), Some(5L)), (2L, None, Some(5L)), (3L, Some("a"), None)
    ).toDF("pid", "pkey", "p")
    val intervals = Seq(
      (10L, Some("a"), Some(1L), Some(9L)), (11L, None, Some(1L), Some(9L)),
      (12L, Some("a"), None, Some(9L)), (13L, Some("a"), Some(1L), None)
    ).toDF("iid", "ikey", "lo", "hi")
    val got = NativeRangeJoin.pointInInterval(
        points, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey")))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)))
  }

  test("skewed hot key with duplicates stays correct") {
    import spark.implicits._
    // one key owns 90% of both sides; duplicate points and identical
    // intervals must multiply out exactly like the nested loop
    val points = ((1 to 400).map(i => (i.toLong, "hot", (i % 40).toLong)) ++
      (401 to 440).map(i => (i.toLong, s"cold${i % 4}", (i % 40).toLong))).toDF("pid", "pkey", "p")
    val intervals = ((1 to 60).map(i => (i.toLong, "hot", (i % 30).toLong, (i % 30 + 10).toLong)) ++
      (61 to 70).map(i => (i.toLong, s"cold${i % 4}", 0L, 40L))).toDF("iid", "ikey", "lo", "hi")
    val expected = naiveKeyed(points, intervals)
    val got = NativeRangeJoin.pointInInterval(
        points, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey")))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("group buffer spill path: hot key larger than the in-memory threshold") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold")
    spark.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "16")
    try {
      val points = (1 to 50).map(i => (i.toLong, "hot", i.toLong * 3)).toDF("pid", "pkey", "p")
      val intervals = (1 to 300).map(i =>
        (i.toLong, "hot", (i % 50).toLong, (i % 50).toLong + 25)).toDF("iid", "ikey", "lo", "hi")
      val expected = naiveKeyed(points, intervals)
      val got = NativeRangeJoin.pointInInterval(
          points, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey")))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", v)
        case None => spark.conf.unset("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold")
      }
    }
  }

  test("plan shape: RangeJoinExec node, shuffles + sorts inserted, no nested loop") {
    val (points, intervals) = randomCase(7, nPoints = 100, nIntervals = 60, nKeys = 5)
    val df = NativeRangeJoin.pointInInterval(
      points, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey")))
    df.collect() // force AQE to finalize the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RangeJoin"), s"expected RangeJoinExec in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop leaked into:\n$plan")
    assert(plan.contains("Sort"), s"expected planner-inserted sorts in:\n$plan")
  }

  test("empty sides produce empty output, not errors") {
    import spark.implicits._
    val points = Seq((1L, "a", 5L)).toDF("pid", "pkey", "p")
    val empty = Seq.empty[(Long, String, Long, Long)].toDF("iid", "ikey", "lo", "hi")
    assert(NativeRangeJoin.pointInInterval(
      points, "p", empty, "lo", "hi", keys = Seq(("pkey", "ikey"))).count() == 0)
    val emptyP = Seq.empty[(Long, String, Long)].toDF("pid", "pkey", "p")
    val intervals = Seq((1L, "a", 0L, 9L)).toDF("iid", "ikey", "lo", "hi")
    assert(NativeRangeJoin.pointInInterval(
      emptyP, "p", intervals, "lo", "hi", keys = Seq(("pkey", "ikey"))).count() == 0)
  }

  test("type mismatches are rejected at construction") {
    import spark.implicits._
    val points = Seq((1L, "a", 5L)).toDF("pid", "pkey", "p")
    val intervals = Seq((1L, "a", 0, 9L)).toDF("iid", "ikey", "lo", "hi") // lo is Int
    intercept[IllegalArgumentException] {
      NativeRangeJoin.pointInInterval(points, "p", intervals, "lo", "hi")
    }
  }
}
