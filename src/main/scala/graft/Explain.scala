package graft

/** Plan-inspection tool: prints the formatted physical plan for the named
  * queries (or all) so pushdown/broadcast/codegen can be audited.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXEC=1: run the query first and print the AQE-FINAL
    // executed plan — the one with runtime exchange reuse, skew splits,
    // and broadcast conversions actually applied. Default stays the
    // static formatted plan (shows pushdown/ReadSchema detail).
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (exec) {
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
