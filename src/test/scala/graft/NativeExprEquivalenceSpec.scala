package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.Embeddings
import graft.text.TextOps

/** Focused equivalence gates for the r12 native expressions that replaced
  * multi-operator plan shapes (the snapshot session landed the
  * expressions; this spec pins each against the VERBATIM historical
  * composition it replaced, on inputs crafted to hit the tie/NaN/ragged
  * edges the scaladoc contracts promise).
  *
  * - `vec_avg(emb)`  ≡ posexplode → groupBy(cell, idx).avg → re-assemble
  * - `cell_argmax`   ≡ crossJoin(broadcast) → max(struct(cos, -cell))
  * - `topk_by`       ≡ row_number() OVER (ORDER BY score DESC, id ASC) ≤ k
  * - `gram_runs`     ≡ aggregate(sort_array(transform(…concat_ws…)), …)
  */
class NativeExprEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- vec_avg ----------------------------------------------------------

  /** The r1–r11 centroid shape, verbatim. */
  private def centroidsExploded(e: DataFrame): DataFrame =
    e.select(col("cell"), posexplode(Embeddings.asDouble(col("embedding")))
        .as(Seq("idx", "v")))
      .groupBy("cell", "idx").agg(avg("v").as("cv"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("cv")))),
        s => s.getField("cv")).as("cemb"))

  private def centroidsNative(e: DataFrame): DataFrame =
    e.groupBy(col("cell"))
      .agg(call_function("vec_avg",
        Embeddings.asDouble(col("embedding"))).as("cemb"))

  test("vec_avg ≡ the posexplode/avg/re-assemble centroid shape") {
    // exact-in-double values so both fold orders sum identically; ragged
    // lengths + a null vector row (skipped by both shapes)
    val e = Seq(
      (0L, Seq(1.0f, 2.0f, 4.0f)),
      (0L, Seq(3.0f, 6.0f, 8.0f)),
      (0L, Seq(2.0f, 4.0f)),          // ragged: dim 2 has count 2 in cell 0
      (1L, Seq(5.0f, 5.0f, 5.0f)),
      (1L, null.asInstanceOf[Seq[Float]]), // null vector row: no contribution
      (2L, Seq(7.0f))
    ).toDF("cell", "embedding")
    val got = centroidsNative(e).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val want = centroidsExploded(e).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(got.toSeq == want.toSeq)
  }

  test("vec_avg ≡ exploded shape on the real corpus") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(pmod(col("vec_id"), lit(7L)).as("cell"), col("embedding"))
    val got = centroidsNative(e).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val want = centroidsExploded(e).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(got.toSeq == want.toSeq)
  }

  // ---- cell_argmax ------------------------------------------------------

  /** The r1–r11 exhaustive-assign shape, verbatim. */
  private def assignOld(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("acos", Embeddings.cosine(col("emb"), col("cemb")))
      .groupBy("vec_id")
      .agg(max(struct(col("acos").as("s"), (-col("cell")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"), col("m.s").as("ccos"))

  private def assignNew(e: DataFrame, cents: DataFrame): DataFrame = {
    val arr = cents.agg(collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    e.crossJoin(broadcast(arr))
      .select(col("vec_id"),
        call_function("cell_argmax", col("emb"), col("cents")).as("m"))
      .filter(col("m").isNotNull)
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.ccos").as("ccos"))
  }

  test("cell_argmax ≡ crossJoin + max(struct) incl. ties and NaN cosine") {
    // NaN enters through a NaN COMPONENT, never a zero-norm vector: the
    // historical shape's cosine is a SQL division, and Spark divides
    // 0-norm to an ANSI error (Spark 4 default) or a non-ANSI NULL —
    // NaN/NaN, by contrast, is NaN in both shapes and both modes (the
    // divisor is NaN, not 0). Production corpora carry neither
    // degeneracy (every oracle row passes under ANSI).
    val e = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.6, 0.8)),
      (3L, Seq(Double.NaN, 1.0)), // NaN cosine against EVERY centroid
      (4L, Seq(-1.0, 0.0))
    ).toDF("vec_id", "emb")
    // cells 10 and 11 are IDENTICAL centroids — the tie must go to 10;
    // cell 12 is distinct
    val cents = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(1.0, 0.0)), (12L, Seq(0.0, 1.0))
    ).toDF("cell", "cemb")
    val got = assignNew(e, cents).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = assignOld(e, cents).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq.map(t => (t._1, t._2)) == want.toSeq.map(t => (t._1, t._2)))
    got.zip(want).foreach { case (g, w) =>
      assert(java.lang.Double.compare(g._3, w._3) == 0 ||
        (g._3.isNaN && w._3.isNaN))
    }
    // the tie landed on the lowest cell id, and the NaN row picked cell 10
    // (NaN greatest, ties to lowest cell — the max(struct) rule)
    val byId = got.map(t => t._1 -> t._2).toMap
    assert(byId(1L) == 10L && byId(3L) == 10L)
  }

  test("cell_argmax on an empty centroid table yields no rows, like the join") {
    val e = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "emb")
    val cents = Seq.empty[(Long, Seq[Double])].toDF("cell", "cemb")
    assert(assignNew(e, cents).count() == 0 && assignOld(e, cents).count() == 0)
  }

  // ---- topk_by ----------------------------------------------------------

  test("topk_by ≡ the row_number window contract incl. score ties and NaN") {
    val pairs = Seq(
      // group 1: tie on 0.9 (ids 7 < 9), a NaN (greatest), k cuts mid-tie
      (1L, 5L, 0.8), (1L, 7L, 0.9), (1L, 9L, 0.9),
      (1L, 2L, Double.NaN), (1L, 4L, 0.1),
      // group 2: fewer than k rows
      (2L, 1L, 0.5), (2L, 3L, 0.4)
    ).toDF("g", "id", "score")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val want = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("g"), col("id"), col("score"), col("rk").cast("int").as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val got = pairs.groupBy("g")
      .agg(call_function("topk_by", col("id"), col("score"), lit(3)).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("p", "n")))
      .select(col("g"), col("n.id").as("id"), col("n.score").as("score"),
        (col("p") + 1).cast("int").as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w2) =>
      assert(g._1 == w2._1 && g._2 == w2._2 && g._4 == w2._4)
      assert(java.lang.Double.compare(g._3, w2._3) == 0 ||
        (g._3.isNaN && w2._3.isNaN))
    }
  }

  // ---- gram_runs --------------------------------------------------------

  /** The retired `TextOps` bodies, verbatim: all k-grams with
    * multiplicity, the highest run count, and the Gopher battery's
    * (top, dup) run fold. */
  private def rawGrams(toks: Column, k: Int): Column = {
    val g = transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + lit(j + 1))): _*))
    when(size(toks) >= k, g).otherwise(array().cast("array<string>"))
  }

  private def maxRunCount(arr: Column): Column =
    aggregate(sort_array(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(acc.getField("prev") <=> t, acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  private def runStats(grams: Column): Column = {
    val z = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("topCnt"), lit(0L).as("top"), lit(0L).as("dup"))
    def flush(acc: Column) = {
      val contrib = acc.getField("run") * length(acc.getField("prev"))
      val isTop = acc.getField("run") > acc.getField("topCnt")
      struct(
        when(isTop, acc.getField("run")).otherwise(acc.getField("topCnt"))
          .as("topCnt"),
        when(isTop, contrib).otherwise(acc.getField("top")).as("top"),
        (acc.getField("dup") +
          when(acc.getField("run") >= 2, contrib).otherwise(0L)).as("dup"))
    }
    aggregate(sort_array(grams), z,
      (acc, g) => when(acc.getField("prev") === g,
        struct(acc.getField("prev").as("prev"),
          (acc.getField("run") + 1).as("run"),
          acc.getField("topCnt").as("topCnt"),
          acc.getField("top").as("top"), acc.getField("dup").as("dup")))
        .otherwise {
          val f = flush(acc)
          struct(g.as("prev"), lit(1L).as("run"),
            f.getField("topCnt").as("topCnt"),
            f.getField("top").as("top"), f.getField("dup").as("dup"))
        },
      acc => {
        val f = flush(acc)
        struct(f.getField("top").as("top"), f.getField("dup").as("dup"))
      })
  }

  /** Rows of `toks` where `gram_runs(toks, n)` and the retired folds
    * disagree for some n in 1..10: a null array must give null (the
    * folds give 0 over rawGrams' empty array), any other must give
    * exactly maxRunCount's count and runStats' (top, dup) over rawGrams.
    * At n = 1, `max_count` must also equal `maxRunCount(toks)`, the
    * expression `td_repetition` ran, on every array without a null
    * token (a null token is the gram `""`, see the null-token test). */
  private def gramRunsMismatches(toks: DataFrame): Array[String] =
    (1 to 10).flatMap { n =>
      val gr = call_function("gram_runs", col("toks"), lit(n))
      val grams = rawGrams(col("toks"), n)
      val rawTokRuns =
        if (n == 1) when(exists(col("toks"), _.isNull), gr.getField("max_count"))
          .otherwise(maxRunCount(col("toks")))
        else gr.getField("max_count")
      toks.select(col("id"), gr.as("gr"), maxRunCount(grams).as("mc"),
          runStats(grams).as("rs"), col("toks").isNull.as("null_toks"),
          rawTokRuns.as("mc_toks"))
        .filter(col("gr").isNull =!= col("null_toks") ||
          coalesce(col("gr.max_count"), lit(0L)) =!= col("mc") ||
          coalesce(col("gr.top_chars"), lit(0L)) =!= col("rs.top") ||
          coalesce(col("gr.dup_chars"), lit(0L)) =!= col("rs.dup") ||
          !(col("gr.max_count") <=> col("mc_toks")))
        .collect().map(r => s"n=$n id=${r.get(0)}: ${r.get(1)} vs " +
          s"max ${r.get(2)}, (top, dup) ${r.get(3)}, max over toks ${r.get(5)}")
    }.toArray

  test("gram_runs ≡ the retired sorted-run folds on crafted edge rows, n = 1..10") {
    val texts = Seq(
      null, "", " ", "a  b  a  b", "  lead and trail  ",
      "x y z",                                 // fewer tokens than most n
      "aa b aa b c d c d",                     // bigram count tie, lengths 4 vs 3
      "zz a zz a q",                           // token count tie
      "a b a b a b c",                         // CurationDiagnosticsSpec's doc
      "é ü é ü 日本 日本 語 é ü",                // characters ≠ bytes
      "a\u0001 b a b a\u0001 b a b",           // 0x01 sorts before the space
      "ab a b ab a c a\tb a\t a",              // prefixes, tab below 0x20
      "x y z w v x y z w v x y z w v")
    // random texts over tokens that are prefixes of one another, carry
    // bytes below and above 0x20 and multi-byte characters, plus empty ones
    val alphabet = Seq("a", "ab", "a\u0001", "a\u001f", "b", "ba", "é", "éa", "日", "")
    val rnd = new scala.util.Random(15)
    val random = Seq.fill(300)(
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    val docs = (texts ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").select(col("id"), TextOps.tokens(col("text")).as("toks"))
    // arrays no split makes: a token holding a space, null tokens, a
    // token ending in a truncated UTF-8 character
    val odd = Seq(
      (1000L, Seq("a b", "a", "b", "a b", "a", "b")),
      (1001L, Seq("a", null, "a", "b", null, "a", "b")),
      (1002L, Seq(null, null, null))
    ).toDF("id", "toks")
      .unionByName(spark.range(1003, 1004).select(col("id"),
        array(concat(lit("a"), unhex(lit("E2")).cast("string")), lit("b"),
          concat(lit("a"), unhex(lit("E2")).cast("string")), lit("b")).as("toks")))
    val bad = gramRunsMismatches(docs.unionByName(odd))
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("gram_runs skips a null token as concat_ws does: at n = 1 it is the gram \"\"") {
    val r = Seq(Seq(null, "")).toDF("toks")
      .select(call_function("gram_runs", col("toks"), lit(1)).as("gr"),
        maxRunCount(col("toks")).as("mc_toks"),
        maxRunCount(rawGrams(col("toks"), 1)).as("mc_grams"))
      .head()
    assert(r.getStruct(0).getLong(0) == 2L)
    assert(r.getInt(2) == 2)
    // the run fold over the raw tokens tells null from "": the one place
    // gram_runs' n = 1 count differs from it (split never yields null)
    assert(r.getInt(1) == 1)
  }

  test("gram_runs ≡ the retired sorted-run folds on the sf0.01 corpus, n = 1..10") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id").as("id"), TextOps.tokens(col("text")).as("toks"))
    assert(docs.count() > 0)
    val bad = gramRunsMismatches(docs)
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }
}
