package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.ops.BlockedPairs

/** The pair-operator kernel on crafted frames, and the guard that keeps
  * pair orientation inside it. */
class BlockedPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** ids 1..4 in block "x", 5 alone in "y", 6 and 7 with a null key. */
  private def frame = Seq[(Long, String, Double)](
      (1L, "x", 0.1), (2L, "x", 0.2), (3L, "x", 0.3), (4L, "x", 0.4),
      (5L, "y", 0.5), (6L, null, 0.6), (7L, null, 0.7))
    .toDF("id", "blk", "v")

  private def pairs(ordered: Boolean): Set[(Long, Long)] =
    BlockedPairs(frame, "id", Seq("blk"), Seq("v"), ordered = ordered)
      .as[(Long, Long)].collect().toSet

  test("unordered mode emits each pair exactly once and never a self-pair") {
    val rows = BlockedPairs(frame, "id", Seq("blk"), Seq("v"))
      .as[(Long, Long)].collect().toSeq
    val want = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet
    assert(rows.size == want.size && rows.toSet == want)
  }

  test("ordered mode emits both directions, still no self-pair") {
    val want = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    assert(pairs(ordered = true) == want.toSet)
  }

  test("a null block key never pairs") {
    val ids = pairs(ordered = true).flatMap { case (a, b) => Seq(a, b) }
    assert(!ids.contains(6L) && !ids.contains(7L) && !ids.contains(5L))
  }

  test("output is the ids, the kept keys and the score columns only") {
    val scored = BlockedPairs(frame, "id", Seq("blk"), Seq("v"),
      scores = Seq("s" -> (col("v_a") + col("v_b")),
        "n" -> lit(1).cast("int")),
      withKeys = true)
    assert(scored.columns.toSeq == Seq("id_a", "id_b", "blk", "s", "n"))
    // fractional scores are rounded doubles, counts stay exact integers
    assert(scored.schema("s").dataType == DoubleType)
    assert(scored.schema("n").dataType == IntegerType)
    val plain = BlockedPairs(frame, "id", Seq("blk"), Seq("v"),
      scores = Seq("s" -> col("v_a")))
    assert(plain.columns.toSeq == Seq("id_a", "id_b", "s"))
  }

  test("shared mode counts the blocks a pair shares, one row per pair") {
    val banded = Seq((1L, 0, "p"), (2L, 0, "p"), (1L, 1, "q"), (2L, 1, "q"),
        (3L, 1, "q")).toDF("id", "band", "key")
    val got = BlockedPairs(banded, "id", Seq("band", "key"), shared = Some("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("the threshold sees the 6 dp value Spark's round(x, 6) gives") {
    // half-steps: the raw double sits below t, its 6 dp rounding at t
    val xs = Seq(0.8999995, 0.1234565, 0.5000005, 0.2500005, 0.7777775)
    val spark6 = xs.toDF("x").select(round(col("x"), 6)).as[Double].collect()
    xs.zip(spark6).foreach { case (x, t) =>
      val df = Seq((1L, "x", 0.0), (2L, "x", x)).toDF("id", "blk", "v")
      val kept = BlockedPairs(df, "id", Seq("blk"), Seq("v"),
          scores = Seq("s" -> greatest(col("v_a"), col("v_b"))),
          keep = Some(col("s") >= t))
        .as[(Long, Long, Double)].collect()
      assert(kept.map(_._3).toSeq == Seq(t), s"x=$x t=$t")
    }
    assert(xs.zip(spark6).exists { case (x, t) => x < t })
  }

  test("the kernel needs no registered session function") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("round6"))
    val df = fresh.createDataFrame(Seq((1L, "x", 0.1234565), (2L, "x", 0.0)))
      .toDF("id", "blk", "v")
    val got = BlockedPairs(df, "id", Seq("blk"), Seq("v"),
        scores = Seq("s" -> greatest(col("v_a"), col("v_b"))))
      .collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(0.123457))
  }

  test("pair orientation lives in BlockedPairs and the named sites left out") {
    // a literal `.filter(col("X_a") < col("X_b"))` (or =!=) under src/main
    val orientation =
      """\.filter\(\s*col\("(\w+)_a"\)\s*(<|=!=)\s*col\("\1_b"\)""".r
    val found = Using.resource(Files.walk(Paths.get("src/main"))) { paths =>
      paths.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
            .linesIterator.map(_.trim)
            .filter(orientation.findFirstIn(_).isDefined)
            .map(p.getFileName.toString -> _)
        }
    }
    val leftOut = Set(
      // PPJoin: the orientation shares one filter with the size bound
      // ahead of the positional-bound group-by
      "TextOps.scala" -> """.filter(col("doc_id_a") < col("doc_id_b") &&""",
      // PMI: term co-occurrence inside documents; the group-by keeps each
      // term's df for the score, which the kernel's projection drops
      "TextOps.scala" -> """.filter(col("term_a") < col("term_b"))""")
    assert(found.toSet.subsetOf(leftOut), s"hand-rolled pair joins: $found")
  }
}
