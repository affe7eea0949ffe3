package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session(4)
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and is non-trivial") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // q4-style anti joins may legitimately shrink, but zero rows at
      // sf0.001 would make the oracle check vacuous.
      assert(df.count() > 0, s"$name returned 0 rows at $sf")
    }
  }

  test("q20 approx distinct stays within 5% of the exact count") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q20_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("every query cited in SURVEY's coverage map is registered") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val start = survey.indexOf("### 2.12")
    val coverage = survey.substring(start, survey.indexOf("\n## 3.", start))
    val cited = """`(q\d+[a-z0-9_]*|mars_[a-z0-9_]+|td_[a-z0-9_]+|emb_[a-z0-9_]+|mm_[a-z0-9_]+)`"""
      .r.findAllMatchIn(coverage).map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    val dangling = cited.filter(c => registered.exists(r => c.startsWith(r.take(3)))) -- registered
    assert(dangling.isEmpty, s"coverage map cites unregistered queries: $dangling")
  }

  test("q1_agg has the aliased columns the oracle expects") {
    val cols = SparkEntry.queries("q1_agg")(spark, sf).columns.toSet
    assert(Set("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
      "sum_disc_price", "avg_qty", "count_order").subsetOf(cols))
  }
}
