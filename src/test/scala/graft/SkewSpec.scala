package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join returns exactly the plain join rows on a skewed key") {
    import spark.implicits._
    // 90% of the big side lands on key 1 — the skew shape
    val big = ((1 to 900).map(i => (1, s"v$i")) ++ (1 to 100).map(i => (i % 7 + 2, s"w$i")))
      .toDF("k", "payload")
    val small = Seq((1, "hot"), (2, "a"), (3, "b"), (4, "c")).toDF("k", "label")
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "label").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 8)
      .select("k", "payload", "label").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("AQE skew join splits the hot partition at runtime (the no-salt path)") {
    import spark.implicits._
    // Salting (above) is the deterministic mitigation; AQE's skew join is
    // the runtime one. Low thresholds make the tiny fixture 'skewed'.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = ((1 to 20000).map(i => (1, s"v$i")) ++
        (1 to 200).map(i => (i % 7 + 2, s"w$i"))).toDF("k", "payload")
      val small = (1 to 8).map(i => (i, s"label$i")).toDF("k", "label")
      val joined = big.join(small, Seq("k"))
      // collect() (not count()) so the INSPECTED query is the one AQE
      // finalizes — count() spawns a separate plan
      assert(joined.collect().length == 20200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("as-of join picks the nearest earlier right row; earlier-than-all gets null") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100), (2L, 10L, 250), (3L, 20L, 50))
      .toDF("id", "k", "t")
    val right = Seq((10L, 90, "r90"), (10L, 200, "r200"), (20L, 60, "r60"))
      .toDF("k", "rt", "rv")
    val out = graft.ops.AsOf.joinAsOf(left, right, Seq("k"), "t", "rt")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("rv")))).toSeq
    // id=1 t=100 → r90; id=2 t=250 → r200; id=3 t=50 → no error yet → null
    assert(out == Seq((1L, Some("r90")), (2L, Some("r200")), (3L, None)))
  }

  test("as-of join tie: right row at exactly the left timestamp matches") {
    import spark.implicits._
    val left = Seq((1L, 5L, 100)).toDF("id", "k", "t")
    val right = Seq((5L, 100, "exact")).toDF("k", "rt", "rv")
    val out = graft.ops.AsOf.joinAsOf(left, right, Seq("k"), "t", "rt").collect()
    assert(out.head.getAs[String]("rv") == "exact")
  }

  test("bucketized range join equals the naive between-filter join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val points = (1 to 200).map(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("pid", "p")
    val intervals = (1 to 40).map { i =>
      val lo = rnd.nextInt(950).toLong; (i.toLong, lo, lo + rnd.nextInt(120).toLong)
    }.toDF("iid", "lo", "hi")
    val naive = points.crossJoin(intervals)
      .filter(col("p").between(col("lo"), col("hi")))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(1L, 37L, 128L, 5000L)) {
      val bucketized = graft.ops.RangeJoin
        .pointInInterval(points, "p", intervals, "lo", "hi", width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bucketized == naive, s"width=$width")
    }
    assert(naive.nonEmpty)
  }

  test("salt spreads the hot key across multiple values") {
    import spark.implicits._
    val big = (1 to 500).map(i => (1, s"v$i")).toDF("k", "payload")
    val salts = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(8)))
      .select(countDistinct("__salt")).first().getLong(0)
    assert(salts > 4, s"hot key should spread over most of 8 salts, got $salts")
  }

  test("skewReport surfaces the hot key with exact share and cumulative share") {
    import spark.implicits._
    // 910 of 1000 rows on key 7 (900 planted + 10 from the modulo tail)
    // — the report must lead with it at 0.91
    val df = ((1 to 900).map(_ => 7L) ++ (1 to 100).map(i => (i % 10).toLong))
      .toDF("k")
    val rows = Skew.skewReport(df, Seq("k"), topN = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.head == ((1, "7", 910L, 0.91, 0.91)))
    assert(rows.length == 3)
    // cumulative share nondecreasing and <= 1
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._5 && b._5 <= 1.0)
    }
  }
}
