package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query sweep: whole passes over a fixed query list, in an order the
  * seed permutes, until the run's seconds have passed. Per query: an
  * adjacent warm-up that is also the checked evaluation (its result
  * fingerprint must equal the expected one), then a timed evaluation
  * split into the registered builder call, physical planning and full
  * execution (`queryExecution.toRdd.count()`, which elides nothing).
  * Stored blocks are released between evaluations. */
object Sweep {
  type Builder = (SparkSession, String) => DataFrame

  lazy val builders: Map[String, Builder] = graft.SparkEntry.queries

  def family(name: String): String =
    if (graft.queries.Relational.queries.contains(name)) "rel"
    else if (graft.queries.MarsOps.queries.contains(name)) "mars"
    else name.takeWhile(_ != '_')

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Opens every table and runs the warm-up queries `graft.Bench` uses. */
  def setup(spark: SparkSession, data: String): Unit = {
    tables.foreach {
      case "events" => graft.Tables.events(spark, data)
      case "documents" => graft.Tables.documents(spark, data)
      case "embeddings" => graft.Tables.embeddings(spark, data)
      case t => graft.Tables.table(spark, data, t)
    }
    Seq("q1_agg", "td_fingerprint").foreach(q => builders(q)(spark, data).queryExecution.toRdd.count())
    Session.dropStorage(spark)
  }

  def runOp(spark: SparkSession, tracer: Tracer, data: String, id: Int, name: String,
            expected: Option[String]): Op = {
    val build = builders(name)
    Session.dropStorage(spark)
    val checkError =
      try {
        val got = tracer.span("check", id)(_ => Digest.of(build(spark, data)))
        expected match {
          case Some(e) if e == got => null
          case Some(e) => s"result $got, expected $e"
          case None => s"no expected result recorded (got $got)"
        }
      } catch { case t: Throwable => s"check threw $t" }
    Session.dropStorage(spark)
    System.gc() // time every query from a collected heap, as graft.Bench does
    tracer.resetPeak()
    val t0 = System.nanoTime()
    val runError =
      try {
        tracer.span("query", id) { root =>
          val df = tracer.span("build", id, root)(_ => build(spark, data))
          tracer.span("plan", id, root)(_ => df.queryExecution.executedPlan)
          tracer.span("exec", id, root)(_ => df.queryExecution.toRdd.count())
        }
        null
      } catch { case t: Throwable => s"timed run threw $t" }
    val latency = if (runError == null) (System.nanoTime() - t0) / 1e9 else Double.NaN
    val peak = tracer.storedPeak
    Session.dropStorage(spark)
    val error = Seq(checkError, runError).filter(_ != null)
    Op(id, "query", name, family(name), latency, error.isEmpty,
      if (error.isEmpty) null else error.mkString("; "), Map.empty,
      tracer.spans.filter(_.op == id).toSeq, peak)
  }

  def run(spark: SparkSession, tracer: Tracer, data: String, names: Seq[String], seed: Long,
          seconds: Double, expected: Map[String, String]): Seq[Op] = {
    val rng = new scala.util.Random(seed)
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      rng.shuffle(names).foreach { n =>
        ops += runOp(spark, tracer, data, ops.size, n, expected.get(n))
      }
    ops.toSeq
  }
}
