package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IncrementalAgg

class IncrementalAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("three incremental updates equal one full recompute, including averages") {
    import spark.implicits._
    val store = Files.createTempDirectory("inc_agg").toString + "/mart"
    val batches = Seq(
      Seq(("a", 10L, 5.0), ("a", 20L, 7.0), ("b", 5L, 1.0)),
      Seq(("a", 1L, 2.0), ("c", 9L, 9.0)),
      Seq(("b", 30L, 4.0), ("c", 2L, 3.0), ("c", 4L, 6.0)))
    batches.foreach { rows =>
      IncrementalAgg.update(spark, store, rows.toDF("k", "qty", "price"),
        keys = Seq("k"), sums = Seq("qty", "price"),
        mins = Seq("price"), maxs = Seq("qty"))
    }
    val got = IncrementalAgg.read(spark, store, avgsOf = Seq("price"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))
    val full = batches.flatten.toDF("k", "qty", "price")
      .groupBy("k").agg(
        count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        sum("price").as("sum_price"), min("price").as("min_price"),
        max("qty").as("max_qty"),
        (sum("price") / count(lit(1))).as("avg_price"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == full.toSeq)
  }

  test("kmv partials fold across batches: stored sketch = kmin over all rows (r7)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val store = Files.createTempDirectory("inc_kmv").toString + "/mart"
    // three batches of (group, hash) longs; k = 4 so the sketch truncates
    val batches = Seq(
      Seq(("a", 50L), ("a", 10L), ("b", 7L), ("a", 10L)),
      Seq(("a", 3L), ("a", 99L), ("b", 2L), ("c", 1L)),
      Seq(("a", 4L), ("a", 8L), ("b", 7L), ("c", 100L)))
    batches.foreach { rows =>
      IncrementalAgg.update(spark, store, rows.toDF("k", "h"),
        keys = Seq("k"), kmvs = Seq("h"), kmvK = 4)
    }
    val got = spark.read.parquet(store).orderBy("k").collect()
      .map(r => (r.getString(0), r.getSeq[Long](r.fieldIndex("kmv_h"))))
    val full = batches.flatten.toDF("k", "h").groupBy("k")
      .agg(call_function("kmin_values", col("h"), lit(4)).as("kmv_h"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(got.toSeq == full.toSeq,
      "batch-folded sketch must equal the one-shot KMV")
    // hand-check group a: distinct hashes {50,10,3,99,4,8} → 4-min {3,4,8,10}
    assert(got.toMap.apply("a") == Seq(3L, 4L, 8L, 10L))
    // and the k-cap + dedup: group b has {7,2} (7 seen twice, kept once)
    assert(got.toMap.apply("b") == Seq(2L, 7L))
  }

  test("CDC retraction: updates and deletes maintain sums without history") {
    import spark.implicits._
    val store = Files.createTempDirectory("inc_agg_cdc").toString + "/mart"
    IncrementalAgg.update(spark, store,
      Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L)).toDF("k", "qty"),
      keys = Seq("k"), sums = Seq("qty"))
    // feed: update one a-row 10->13, delete b entirely, insert new d
    val changes = Seq(
      ("a", "update", Some(10L), Some(13L)),
      ("b", "delete", Some(5L), None),
      ("d", "insert", None, Some(2L)))
      .toDF("k", "change_type", "b_qty", "a_qty")
      .select(col("k"), col("change_type"),
        struct(col("b_qty").as("qty")).as("_before"),
        struct(col("a_qty").as("qty")).as("_after"))
    IncrementalAgg.applyChanges(spark, store, changes,
      keys = Seq("k"), sums = Seq("qty"))
    val got = IncrementalAgg.read(spark, store).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // a: 13+20, c untouched, b gone (count retracted to 0), d new
    assert(got == Seq(("a", 2L, 33L), ("c", 1L, 7L), ("d", 1L, 2L)))
  }

  test("min/max maintenance recomputes only the affected groups") {
    import spark.implicits._
    val store = Files.createTempDirectory("inc_agg_mm").toString + "/mart"
    val v1 = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("b", 9L)).toDF("k", "qty")
    IncrementalAgg.update(spark, store, v1,
      keys = Seq("k"), sums = Seq("qty"), mins = Seq("qty"), maxs = Seq("qty"))
    // delete a's minimum — NOT invertible, needs the current table
    val v2 = Seq(("a", 20L), ("b", 5L), ("b", 9L)).toDF("k", "qty")
    val changes = Seq(("a", "delete", Option(10L), Option.empty[Long]))
      .toDF("k", "change_type", "b_qty", "a_qty")
      .select(col("k"), col("change_type"),
        struct(col("b_qty").as("qty")).as("_before"),
        struct(col("a_qty").as("qty")).as("_after"))
    val err = intercept[IllegalArgumentException] {
      IncrementalAgg.applyChanges(spark, store, changes, Seq("k"),
        sums = Seq("qty"), mins = Seq("qty"), maxs = Seq("qty"))
    }
    assert(err.getMessage.contains("not invertible"))
    IncrementalAgg.applyChanges(spark, store, changes, Seq("k"),
      sums = Seq("qty"), mins = Seq("qty"), maxs = Seq("qty"),
      current = Some(v2))
    val got = IncrementalAgg.read(spark, store).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(("a", 1L, 20L, 20L, 20L), ("b", 2L, 14L, 5L, 9L)))
  }

  test("end to end: versioned store -> changesBetween -> maintained mart") {
    import spark.implicits._
    import graft.mars.Incremental
    val dir = Files.createTempDirectory("inc_agg_e2e").toString
    val table = dir + "/table"
    val mart = dir + "/mart"
    Incremental.upsertSnapshot(spark, table,
      (1L to 40L).map(i => (i, s"s${i % 4}", i * 2)).toDF("id", "grp", "qty"),
      Seq("id"))
    IncrementalAgg.update(spark, mart, Incremental.readVersion(spark, table, 1),
      keys = Seq("grp"), sums = Seq("qty"))
    // v2: upsert some, v3: takedown
    Incremental.upsertSnapshot(spark, table,
      Seq((3L, "s3", 100L), (41L, "s1", 9L)).toDF("id", "grp", "qty"), Seq("id"))
    Incremental.deleteWhere(spark, table, col("id") <= 10L)
    // NOTE: grp is part of the key set for the agg, so feed keys = grp only
    val changes = Incremental.changesBetween(spark, table, 1, 3, Seq("id"))
      .select(coalesce(col("_after.grp"), col("_before.grp")).as("grp"),
        col("change_type"),
        struct(col("_before.qty").as("qty")).as("_before"),
        struct(col("_after.qty").as("qty")).as("_after"))
    IncrementalAgg.applyChanges(spark, mart, changes,
      keys = Seq("grp"), sums = Seq("qty"))
    val got = IncrementalAgg.read(spark, mart).orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = Incremental.read(spark, table)
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("qty").as("s"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  private def cellsOf(r: org.apache.spark.sql.Row, field: String) =
    r.getSeq[org.apache.spark.sql.Row](r.fieldIndex(field))
      .map(c => (c.getLong(0), c.getLong(1)))

  test("hist retraction equals recompute, including a group-emptying delete (r9)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val store = Files.createTempDirectory("inc_hist_cdc").toString + "/mart"
    // widths land values across several w=8 buckets; b holds ONE row so
    // its delete must retract the whole group away, not leave zero cells
    val v1 = Seq(("a", 3L), ("a", 17L), ("a", 18L), ("b", 40L), ("c", 9L))
    IncrementalAgg.update(spark, store, v1.toDF("k", "v"),
      keys = Seq("k"), hists = Seq("v"), histWidth = 8)
    // update moves a's 17 into a different bucket (17→2), delete b's only
    // row, delete one of a's, insert a new c row
    val changes = Seq(
      ("a", "update", Some(17L), Some(2L)),
      ("a", "delete", Some(18L), None),
      ("b", "delete", Some(40L), None),
      ("c", "insert", None, Some(25L)))
      .toDF("k", "change_type", "b_v", "a_v")
      .select(col("k"), col("change_type"),
        struct(col("b_v").as("v")).as("_before"),
        struct(col("a_v").as("v")).as("_after"))
    IncrementalAgg.applyChanges(spark, store, changes,
      keys = Seq("k"), hists = Seq("v"), histWidth = 8)
    val got = spark.read.parquet(store).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(r.fieldIndex("n_rows")),
        cellsOf(r, "hist_v_w8"))).toSeq
    // survivors: a={3,2}, c={9,25}; b emptied out entirely
    val survivors = Seq(("a", 3L), ("a", 2L), ("c", 9L), ("c", 25L))
    val expect = survivors.toDF("k", "v").groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        call_function("hist_cells", col("v"), lit(8)).as("hist_v_w8"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), cellsOf(r, "hist_v_w8"))).toSeq
    assert(got == expect,
      "retraction-maintained cells must equal recomputed cells, byte for byte")
    assert(!got.exists(_._1 == "b"), "the emptied group must vanish")
    // and no zero-count residue cells survive the cleanup
    assert(got.forall(_._3.forall(_._2 > 0L)))
  }

  test("hist retraction of a row the mart never absorbed raises, not corrupts (r9)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val store = Files.createTempDirectory("inc_hist_bad").toString + "/mart"
    IncrementalAgg.update(spark, store, Seq(("a", 3L)).toDF("k", "v"),
      keys = Seq("k"), hists = Seq("v"), histWidth = 8)
    // delete claims a row in bucket 12 that was never inserted — the
    // bucket would retract below zero
    val changes = Seq(("a", "delete", Some(100L), Option.empty[Long]),
        ("a", "insert", Option.empty[Long], Some(5L)))
      .toDF("k", "change_type", "b_v", "a_v")
      .select(col("k"), col("change_type"),
        struct(col("b_v").as("v")).as("_before"),
        struct(col("a_v").as("v")).as("_after"))
    val err = intercept[Exception] {
      IncrementalAgg.applyChanges(spark, store, changes,
        keys = Seq("k"), hists = Seq("v"), histWidth = 8)
    }
    assert(err.getMessage != null &&
      err.toString.contains("hist retraction underflow") ||
      Option(err.getCause).exists(_.toString.contains("underflow")))
    // the store is untouched (the failed swap never replaced it)
    val got = spark.read.parquet(store).collect()
      .map(r => (r.getString(r.fieldIndex("k")), cellsOf(r, "hist_v_w8"))).toSeq
    assert(got == Seq(("a", Seq((0L, 1L)))))
  }

  test("hll partials fold across batches: estimate equals the one-shot (r9)") {
    import spark.implicits._
    val store = Files.createTempDirectory("inc_hll").toString + "/mart"
    // enough cardinality per group that the sketch is doing real work
    val rows = (1L to 9000L).map(i => (s"g${i % 3}", i % 2000))
    val batches = rows.grouped(3000).toSeq
    batches.foreach { b =>
      IncrementalAgg.update(spark, store, b.toDF("k", "x"),
        keys = Seq("k"), hlls = Seq("x"), hllLgK = 12)
    }
    val got = spark.read.parquet(store)
      .select(col("k"), expr("hll_sketch_estimate(hll_x_k12)").as("est"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val oneShot = rows.toDF("k", "x").groupBy("k")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(x, 12))").as("est"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == oneShot,
      "estimate from batch-folded HLL partials must equal the one-shot")
    // rollup: union of the group partials = the global sketch's estimate
    val globServed = spark.read.parquet(store)
      .agg(expr("hll_sketch_estimate(hll_union_agg(hll_x_k12, false))"))
      .first().getLong(0)
    val globDirect = rows.toDF("k", "x")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(x, 12))")).first().getLong(0)
    assert(globServed == globDirect)
    // a mixed-lgK maintenance call fails loudly (lgK is in the name)
    intercept[Exception] {
      IncrementalAgg.update(spark, store, Seq(("g0", 1L)).toDF("k", "x"),
        keys = Seq("k"), hlls = Seq("x"), hllLgK = 14)
    }
  }

  test("min/max recompute branch carries hist partials for affected groups (r9)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val store = Files.createTempDirectory("inc_hist_mm").toString + "/mart"
    val v1 = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")
    IncrementalAgg.update(spark, store, v1, keys = Seq("k"),
      mins = Seq("v"), hists = Seq("v"), histWidth = 8)
    val v2 = Seq(("a", 20L), ("b", 5L)).toDF("k", "v")
    val changes = Seq(("a", "delete", Option(10L), Option.empty[Long]))
      .toDF("k", "change_type", "b_v", "a_v")
      .select(col("k"), col("change_type"),
        struct(col("b_v").as("v")).as("_before"),
        struct(col("a_v").as("v")).as("_after"))
    IncrementalAgg.applyChanges(spark, store, changes, Seq("k"),
      mins = Seq("v"), current = Some(v2),
      hists = Seq("v"), histWidth = 8)
    val got = spark.read.parquet(store).orderBy("k").collect()
      .map(r => (r.getString(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("min_v")), cellsOf(r, "hist_v_w8"))).toSeq
    assert(got == Seq(("a", 20L, Seq((2L, 1L))), ("b", 5L, Seq((0L, 1L)))))
  }
}
