package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.Incremental

/** [[Incremental.changesBetween]] — the CDC read over the versioned
  * snapshot store: exact insert/update/delete classification between any
  * two retained versions, identity on same-version, and composition
  * (applying the change feed to the old version reproduces the new one).
  */
class StoreChangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cdc").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/table"
  }

  private def changeSets(t: String, from: Int, to: Int) = {
    val ch = Incremental.changesBetween(spark, t, from, to, Seq("k")).collect()
    def keysOf(tpe: String) =
      ch.filter(_.getString(1) == tpe).map(_.getLong(0)).toSet
    (keysOf("insert"), keysOf("update"), keysOf("delete"))
  }

  test("insert / update / delete classified exactly; unchanged rows absent") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "ver"), Seq("k"))
    // v2: update k=2, insert k=4; k=1/3 untouched
    Incremental.upsertSnapshot(spark, t,
      Seq((2L, "b2"), (4L, "d")).toDF("k", "ver"), Seq("k"))
    // v3: delete k=3
    Incremental.deleteWhere(spark, t, col("k") === 3L)

    val (i12, u12, d12) = changeSets(t, 1, 2)
    assert((i12, u12, d12) == (Set(4L), Set(2L), Set.empty[Long]))
    val (i23, u23, d23) = changeSets(t, 2, 3)
    assert((i23, u23, d23) == (Set.empty[Long], Set.empty[Long], Set(3L)))
    // spanning read composes the intermediate commits
    val (i13, u13, d13) = changeSets(t, 1, 3)
    assert((i13, u13, d13) == (Set(4L), Set(2L), Set(3L)))
    // before/after images carry the payload
    val upd = Incremental.changesBetween(spark, t, 1, 2, Seq("k"))
      .filter(col("change_type") === "update").select("_before.ver", "_after.ver")
      .collect().head
    assert((upd.getString(0), upd.getString(1)) == ("b", "b2"))
  }

  test("same-version diff is empty") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "a")).toDF("k", "ver"), Seq("k"))
    assert(Incremental.changesBetween(spark, t, 1, 1, Seq("k")).count() == 0)
  }

  test("applying the change feed to the old version reproduces the new") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t,
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "ver"), Seq("k"))
    Incremental.upsertSnapshot(spark, t,
      Seq((7L, "x"), (51L, "y"), (9L, "z")).toDF("k", "ver"), Seq("k"))
    Incremental.deleteWhere(spark, t, col("k") % 10L === 0L)

    val ch = Incremental.changesBetween(spark, t, 1, 3, Seq("k"))
    val v1 = Incremental.readVersion(spark, t, 1)
    val applied = v1
      .join(ch.select(col("k"), col("change_type"), col("_after.ver").as("_new")),
        Seq("k"), "left")
      .filter(col("change_type").isNull || col("change_type") =!= "delete")
      .select(col("k"), coalesce(col("_new"), col("ver")).as("ver"))
      .unionByName(ch.filter(col("change_type") === "insert")
        .select(col("k"), col("_after.ver").as("ver")))
    val expect = Incremental.readVersion(spark, t, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(applied.collect().map(r => (r.getLong(0), r.getString(1))).toSet == expect)
  }

  test("schema evolution: a column born after v1 does not fabricate updates") {
    import spark.implicits._
    val t = tmp()
    Incremental.upsertSnapshot(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "ver"), Seq("k"))
    // v2 adds a column; k=1 keeps its old payload value, k=2 changes
    Incremental.upsertSnapshot(spark, t,
      Seq((2L, "b2", "extra")).toDF("k", "ver", "note"),
      Seq("k"), mergeSchema = true)
    val ch = Incremental.changesBetween(spark, t, 1, 2, Seq("k")).collect()
    val byKey = ch.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey == Map(2L -> "update"), ch.mkString("; "))
  }
}
