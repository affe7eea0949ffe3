package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = LocalSpark.session()
    // Optional extra args: query names to dump (local iteration aid; the
    // driver passes exactly two args and gets the full surface).
    val failed = dump(spark, sfDir, outDir, args.drop(2).toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a query that throws must fail the run, not leave a gap that a
    // stale earlier dump can fill
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each registered query in `only` (every query when empty) to
    * `outDir/<name>` as one parquet file and returns the sorted names of
    * the queries that threw, each also reported on stderr. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Set[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.options(graft.mars.LocalFs.writeOptions)
            .mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }.sorted
  }
}
