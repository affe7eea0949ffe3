package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps

/** kmin_values (TypedImperativeAggregate KMV state) — pinned against the
  * window formulation and checked for the bounded-plan shape.
  */
class KMinAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def kminAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    graft.functions.GraftFunctions.register(spark)
    df.groupBy("g")
      .agg(call_function("kmin_values", col("h"), lit(k)).as("kmin"))
  }

  test("kmin_values equals the distinct + rank-window k-min") {
    val base = (1 to 2000).map(i => (s"g${i % 3}", s"v${i % 400}"))
      .toDF("g", "it")
      .select(col("g"), TextOps.md5Long(concat(lit("t:"), col("it"))).as("h"))
    val agg = kminAgg(base, k = 16).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("h").asc)
    val win = base.distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 16)
      .groupBy("g").agg(sort_array(collect_list("h")).as("kmin"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(agg == win)
  }

  test("foldable NULL literals fail typecheck instead of NPE-ing analysis (r8 review)") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(("a", 1L)).toDF("g", "h")
    df.createOrReplaceTempView("kmin_null_probe")
    for (q <- Seq(
      "SELECT kmin_values(h, CAST(NULL AS INT)) FROM kmin_null_probe",
      "SELECT hist_quantile(h, CAST(NULL AS DOUBLE), 8) FROM kmin_null_probe",
      "SELECT hist_quantile(h, 0.5, CAST(NULL AS INT)) FROM kmin_null_probe")) {
      val e = intercept[Exception](spark.sql(q).collect())
      assert(!e.isInstanceOf[NullPointerException], s"$q NPE'd")
    }
  }

  test("kmin_values dedups and is partitioning-invariant") {
    val base = (1 to 500).map(i => (s"g${i % 2}", (i % 37).toLong))
      .toDF("g", "h")
    val a = kminAgg(base, k = 10).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = kminAgg(base.repartition(13), k = 10).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
    // 37 distinct values, k = 10 → exactly the 10 smallest, ascending
    assert(a("g0") == a("g0").sorted && a("g0").size == 10)
    assert(a("g0").toSet.subsetOf((0L until 37L).toSet))
  }

  test("small groups return their full distinct set") {
    val base = Seq(("g", 5L), ("g", 5L), ("g", 3L), ("g", 9L)).toDF("g", "h")
    val got = kminAgg(base, k = 64).collect().head.getSeq[Long](1)
    assert(got == Seq(3L, 5L, 9L))
  }

  test("td_kmv_agg plans as a bounded aggregate: no Window, no distinct shuffle") {
    val df = graft.queries.TrainingOps
      .queries("td_kmv_agg")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // TypedImperativeAggregate plans as ObjectHashAggregate (partial +
    // final) — the k-bounded state IS the shuffled payload
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("agg path and window path agree on the registered query") {
    val sf = "/root/testdata/sf0.001"
    val a = graft.queries.TrainingOps.queries("td_kmv_agg")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val b = graft.queries.TrainingOps.queries("td_kmv_distinct")(spark, sf)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("u_k"),
          r.getAs[Double]("kmv_estimate"))).toMap
    assert(a == b)
  }
}
