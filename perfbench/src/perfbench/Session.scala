package perfbench

import org.apache.spark.sql.SparkSession

/** The pinned session every run measures: `local[cores]` with as many
  * shuffle partitions, UTC, no UI, and Spark's own scratch space inside
  * the benchmark's work directory. Driver memory is the JVM's -Xmx, set
  * by `perfbench/run.py`. */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Releases every stored block between ops, as `graft.Bench` does, so
    * one op's checkpoints never crowd the next op's. */
  def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
