package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mars.Incremental
import graft.plans.MvRewrite
import graft.streaming.{AggSink, SnapshotSink}

/** The system-level composition of the closed loops a 100 TB operator
  * runs over a curated corpus, working as ONE system:
  *
  *   an admitted corpus lands batch by batch
  *   → AggSink maintains a per-source corpus-stats mart, batch id
  *     inside the same atomic snapshot commit
  *   → MvRewrite serves the dashboard aggregate FROM the mart, the
  *     corpus scan never runs
  *   → a takedown (deleteWhere) + vacuum flows through: the source
  *     disappears from the served dashboard and its pre-takedown
  *     versions are unreadable.
  *
  * The invariants this adds over the per-loop specs: replay of the last
  * batch is a no-op for the mart version chain and the served answers,
  * and the mart the dashboard reads is byte-identical to a from-scratch
  * batch rebuild over the corpus.
  */
class LakehouseLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("lakeloop").toString

  // three admitted documents over two sources (the takedown needs a
  // source that does not empty the mart)
  private def df(rows: (Long, String, String, String)*) =
    rows.map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def scanPaths(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
        case _ => ""
      }
    }

  test("curated ingest → exactly-once mart → MV-served dashboard → takedown + vacuum") {
    val corpus = tmp(); val mart = tmp() + "/mart"

    // the per-batch step: the admitted documents land in the corpus,
    // then the mart folds exactly those rows
    def step(admitted: DataFrame, id: Long): Unit = {
      admitted.write.mode("append").parquet(s"$corpus/documents")
      AggSink.applyBatch(admitted, id, mart, keys = Seq("source"),
        sums = Seq("n_chars"), counts = Seq("n_chars"))
    }

    step(df((1L, "the rover climbed the crater rim", "en", "web"),
      (2L, "a survey of martian dust storms", "en", "wiki")), 0L)
    step(df((11L, "der rover fotografiert den krater", "de", "web")), 1L)
    val corpusDocs = spark.read.parquet(s"$corpus/documents")

    // the mart is byte-identical to a from-scratch batch rebuild over
    // the admitted corpus, and the last batch id rode the commit
    def rebuildOver(docs: DataFrame) = docs.groupBy("source")
      .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_n_chars"),
        count(col("n_chars")).as("cnt_n_chars"))
    assert(AggSink.read(spark, mart).collect().toSet ==
      rebuildOver(corpusDocs).collect().toSet)
    assert(SnapshotSink.lastBatchId(spark, mart) == 1L)
    val versionsBefore = Incremental.currentSnapshot(spark, mart).get

    // the dashboard aggregate is SERVED from the |sources|-row mart —
    // the admitted corpus never scans — and the answers are identical
    val session = spark.newSession()
    MvRewrite.ensureRegistered(session)
    MvRewrite.clear()
    try {
      def register(): Unit = MvRewrite.register(
        AggSink.read(session, mart), baseTag = "documents",
        groupCols = Seq("source"),
        sumCols = Map("n_chars" -> "sum_n_chars"), countCol = Some("n_rows"),
        valueCountCols = Map("n_chars" -> "cnt_n_chars"))
      register()
      def dashboard(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(s"$corpus/documents").groupBy("source")
          .agg(sum("n_chars").as("total_chars"), count(lit(1)).as("n_docs"),
            avg("n_chars").as("mean_chars"))
      val served = dashboard(session)
      assert(!scanPaths(served).exists(_.contains(corpus)),
        s"dashboard must read the mart, not the corpus: ${scanPaths(served)}")
      assert(served.collect().toSet == dashboard(spark).collect().toSet)

      // replaying the last batch is a no-op for the mart version chain
      // and the served dashboard
      assert(!AggSink.applyBatch(
        spark.read.parquet(s"$corpus/documents"), 1L, mart,
        keys = Seq("source"), sums = Seq("n_chars"), counts = Seq("n_chars")))
      assert(Incremental.currentSnapshot(spark, mart).get == versionsBefore,
        "replay must not publish a new mart version")
      assert(dashboard(session).collect().toSet ==
        dashboard(spark).collect().toSet)

      // takedown: the first doc's source leaves the serving mart; vacuum
      // expires every pre-takedown version (VACUUM-after-DELETE — only
      // then is the takedown complete)
      val taken = "web"
      val removed = Incremental.deleteWhere(spark, mart,
        col("source") === taken)
      assert(removed >= 1, "the taken-down source had a mart row")
      Incremental.vacuum(spark, mart, keep = 1)
      val preVersion = versionsBefore.stripPrefix("v").toInt
      intercept[IllegalArgumentException] {
        Incremental.readVersion(spark, mart, preVersion)
      }
      // the dashboard now serves from the post-takedown mart (fresh
      // registration — the old one was pinned to the vacuumed version)
      MvRewrite.clear()
      register()
      val after = dashboard(session)
      assert(!scanPaths(after).exists(_.contains(corpus)))
      val expected = dashboard(spark).collect()
        .filter(_.getString(0) != taken).toSet
      assert(after.collect().toSet == expected,
        "served dashboard must equal the rebuild minus the taken source")
      assert(!after.select("source").as[String].collect().contains(taken))
    } finally MvRewrite.clear()
  }
}
