package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed (pre-shuffled) tables: the co-located-join primitive.
  *
  * Writing both sides of a recurring equi-join bucketed by the join key
  * moves the shuffle from query time to write time, once: bucketed scans
  * report the bucket hash-partitioning to Catalyst, so joins and
  * aggregations on the bucket key plan with ZERO Exchange nodes. At 100 TB
  * this is the difference between re-shuffling the fact table on every run
  * of a daily join and never shuffling it at all — the classic warehouse
  * layout decision the reference expresses with `cluster_by` (SURVEY §2.9),
  * strengthened from row-group co-location to partitioning-aware planning.
  *
  * `sortBy` on the same key additionally removes the Sort below a
  * sort-merge join when each bucket lands in a single file.
  */
object Bucketing {

  /** Write `df` as a bucketed external parquet table registered in the
    * session catalog (in-memory catalog is enough; no Hive required). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write.options(graft.mars.LocalFs.writeOptions).mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
