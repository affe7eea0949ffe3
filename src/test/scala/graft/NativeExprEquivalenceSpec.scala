package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.Embeddings

/** Focused equivalence gates for the r12 native expressions that replaced
  * multi-operator plan shapes (the snapshot session landed the
  * expressions; this spec pins each against the VERBATIM historical
  * composition it replaced, on inputs crafted to hit the tie/NaN/ragged
  * edges the scaladoc contracts promise).
  *
  * - `vec_avg(emb)`  ≡ posexplode → groupBy(cell, idx).avg → re-assemble
  * - `cell_argmax`   ≡ crossJoin(broadcast) → max(struct(cos, -cell))
  * - `topk_by`       ≡ row_number() OVER (ORDER BY score DESC, id ASC) ≤ k
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
    // the IVF routing entry lands every vector of the same frame in the
    // reference shape's cell, the tie and the NaN row included
    val asInput = e.select(col("vec_id"), col("emb").as("embedding"))
    val routed = Embeddings.routeToCells(asInput, cents).orderBy("vec_id")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell")))
    assert(routed.toSeq == want.toSeq.map(t => (t._1, t._2)))
    // a zero-norm vector has no cosine to any centroid: routing it must
    // fail, not land it silently in the lowest cell
    val zeroNorm = asInput.union(Seq((5L, Seq(0.0, 0.0))).toDF("vec_id", "embedding"))
    intercept[Exception](Embeddings.routeToCells(zeroNorm, cents).collect())
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
}
