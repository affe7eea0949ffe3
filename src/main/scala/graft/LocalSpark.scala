package graft

import org.apache.spark.sql.SparkSession

/** The one recipe for the pinned local session every `main` and the test
  * suites run on: `local[cores]` with as many shuffle partitions, UTC
  * session time zone, no UI, the graft native functions registered, and
  * WARN logging. `SparkSession.builder` is called here and nowhere else in
  * `src/`, so the settings cannot drift between callers.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS` (default 32): the core count of every `main`. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full storage drop, not just the SQL cache: localCheckpoint'd RDD
    * blocks from EARLIER queries (and earlier reps of this one) linger
    * in the BlockManager until the async ContextCleaner catches up, and
    * at the 230-query sweep scale that accumulated residue is what
    * evicted composite pipelines' stage persists mid-rep —
    * td_curation_audit charged 16.9 s in the r5 sweep vs 4.66 s
    * isolated, a measurement of cache pressure, not the operator.
    * Safe only BETWEEN executions, when no live query references the
    * blocks (each rep rebuilds its DAG). */
  def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
