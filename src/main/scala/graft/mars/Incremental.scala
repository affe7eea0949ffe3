package graft.mars

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** dbt incremental materialization semantics over warehouse tables
  * (SURVEY §2.9). Nothing here filters by watermark: the caller hands in
  * only new rows — the loop's [[OffsetLog]] batch of inputs no batch has
  * taken (SURVEY §7.4 item 5a), or a streaming micro-batch.
  *
  * A table is a root holding one directory per write and a [[TableLog]],
  * `_log/`, whose newest version names the directories that make up the
  * table — Delta Lake's transaction log in miniature (VLDB 2020). Every
  * write publishes the same way, through [[publish]]: written whole into
  * a fresh directory, then named by the next version, which is published
  * exclusively. A reader resolves the newest version once, when its
  * DataFrame is created, and reads only the directories it names: a
  * racing write never tears it, and a write that no version names — in
  * flight, or left by a crash — is invisible. Behaviors:
  *
  *  - append: the new version names the live directories plus the new one
  *    (reference: flat_photo_response.sql:27-29 and all mart models).
  *    unique_key is declared by the reference but append does NOT dedup —
  *    preserved.
  *  - merge + unique_key: upsert — replace matching keys, insert new
  *    (reference: flat_manifest_response et al). No Delta in this
  *    environment, so old ANTI-JOIN new ∪ new is written whole and the new
  *    version names its directory alone. An older version stays readable
  *    — by a DataFrame pinned to it, or [[readVersion]] — until
  *    [[vacuum]] (the reader-grace contract, as in Delta).
  *  - view: just a lazy DataFrame; nothing to do here.
  *
  * Concurrent writers: two writers racing for a version number publish
  * two distinct versions, the loser recomputing its version over the
  * winner's (see [[TableLog.commit]]). Racing appends therefore both
  * land. Note the isolation level a merge gets: readers never see torn
  * files, but two merges that BOTH computed against the same base do not
  * compose — the later version wins the table wholesale (snapshot-isolation
  * write-skew). Composing racing upserts needs a check-and-retry on the
  * base version (the Delta commit protocol), which single-writer-per-table
  * pipelines — this one — don't need.
  *
  * Scale: at 100 TB the merge rewrite is the expensive path; the anti-join
  * shuffles on the key unless the table is bucketed by it. The reference's
  * merge tables are rover- and (rover,sol)-grain — small — while the truly
  * big table (flat_photo_response) is append-only, which is why this
  * read-modify-write design holds up. cluster_by is reproduced with
  * repartition + sortWithinPartitions so parquet row-group stats give
  * min/max pruning on the cluster keys.
  */
object Incremental {

  private def fs(spark: SparkSession, path: String) =
    LocalFs.get(path, spark.sparkContext.hadoopConfiguration)

  /** A table exists once a version of it is published: a root holding
    * only a crashed write is NOT a table yet. */
  def exists(spark: SparkSession, path: String): Boolean = TableLog(spark, path).versions.nonEmpty

  /** Resolves the newest version ONCE, eagerly: the returned DataFrame is
    * bound to that version's directories, which no later write changes,
    * so lazy evaluation later — even mid-merge — reads a consistent table.
    *
    * With a `schema`, the read is pinned to it: no schema-inference job
    * (Spark's one-task footer scan per read). A stored column whose type
    * the schema cannot read fails the scan loudly; a pinned column the
    * stored files lack reads as null (additive evolution). */
  def read(spark: SparkSession, path: String,
           schema: Option[StructType] = None): DataFrame = {
    val (_, dirs) = TableLog(spark, path).latest
      .getOrElse(throw new IllegalArgumentException(s"$path has no published version"))
    readDirs(spark, path, dirs, schema)
  }

  /** The rows of `dirs`, directories of `table`. */
  private[mars] def readDirs(spark: SparkSession, table: String, dirs: Seq[String],
                             schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(dirs.map(d => s"$table/$d"): _*)

  /** incremental_strategy='merge' with unique_key: upsert via anti-join +
    * union, published under `tag` as a version of its own (see
    * [[publish]]). The source must already be incremental: dbt's
    * is_incremental() string `>` on a watermark would drop a batch stamped
    * in the same second as the previous one's max (SURVEY §7.4 item 5a).
    * Keys match null-safely (`<=>`), so a key holding a null replaces its
    * old row like any other and the table keeps one row per key (SURVEY
    * §7.4 item 7); it is still an equi-join, planned as a hash or
    * broadcast join. The source must project to the table's schema, or
    * the union fails loudly. [[Warehouse]] publishes through this entry. */
  def upsertSnapshot(spark: SparkSession, target: String, source: DataFrame,
                     keys: Seq[String], clusterBy: Seq[String] = Nil,
                     tag: String = UUID.randomUUID().toString): Unit = {
    val merged = TableLog(spark, target).latest.fold(source) { case (_, dirs) =>
      val old = readDirs(spark, target, dirs, None)
      val incoming = source.select(
        keys.indices.map(i => col(keys(i)).as(s"_key$i")): _*).distinct()
      old.join(incoming,
        keys.indices.map(i => old(keys(i)) <=> incoming(s"_key$i")).reduce(_ && _),
        "left_anti").unionByName(source.select(old.columns.map(col).toIndexedSeq: _*))
    }
    publish(spark, target, tag, merged, clusterBy, replace = true)
  }

  /** What [[publish]] left: whether the table's newest version names the
    * write's directory, and what the write observed (`rows`, and the
    * caller's columns by name) — None when an earlier run had published
    * the tag. */
  final case class Published(live: Boolean, observed: Option[Map[String, Any]])

  /** The one way a table changes. `df` is written whole to
    * `<table>/<tag>/`, replacing what an unpublished attempt left there,
    * then published as the table's next version: with `replace` a version
    * of that directory alone (a merge), otherwise the live directories
    * plus it (an append). A tag the newest version names was published by
    * an earlier run and is not written again, so a batch re-run under its
    * tag lands once.
    *
    * The write job observes its row count, and `observe`'s columns. A
    * write of no row to a table that has a version publishes nothing, and
    * its directory goes; a first write creates the table, even empty. */
  def publish(spark: SparkSession, table: String, tag: String, df: DataFrame,
              clusterBy: Seq[String], replace: Boolean,
              observe: Seq[Column] = Nil): Published = {
    val log = TableLog(spark, table)
    val live = log.latest
    if (live.exists(_._2.contains(tag))) return Published(live = true, None)
    val observation = Observation()
    val dir = new Path(table, tag)
    // dbt cluster_by → repartition on the first key + sort within
    // partitions on all of them: co-locates key ranges so parquet
    // row-group min/max stats prune on the cluster keys (SURVEY §2.9)
    val arranged =
      if (clusterBy.isEmpty) df
      else df.repartition(col(clusterBy.head)).sortWithinPartitions(clusterBy.map(col): _*)
    // observed above the shuffle: below it, an empty write could report
    // no metric at all (AQE replaces an input it finds empty, observation
    // included); a write without its count is published
    arranged.observe(observation, count(lit(1)).as("rows"), observe: _*)
      .write.options(LocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(dir.toString)
    val observed = observation.get
    val empty = observed.get("rows").contains(0L) && live.nonEmpty
    if (empty) fs(spark, table).delete(dir, true)
    else log.commit(ds => if (replace) Seq(tag) else ds :+ tag)
    Published(!empty, Some(observed))
  }

  /** Time-travel read: a retained version of `root`. A version never
    * published, or vacuumed, is refused. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val log = TableLog(spark, root)
    require(log.versions.contains(version),
      s"version $version of $root was never published or has been vacuumed")
    readDirs(spark, root, log.dirs(version), None)
  }

  /** Drops the versions beyond the `keep` newest, then every directory
    * under the root that no version left names: the expired versions'
    * and the writes no version ever named. Two safety contracts:
    *
    *  - the LIVE version is never deleted — `keep` is clamped to ≥ 1, so
    *    even `keep = 0` cannot destroy the table;
    *  - `minAgeMs` is the reader/writer grace (Delta's retention hours):
    *    nothing newer than it is touched, so a reader pinned to a
    *    recently-expired version finishes its scan, and a writer's
    *    in-flight directory is not swept from under it. The default 0 is
    *    for single-writer batch pipelines that vacuum between jobs;
    *    concurrent callers (e.g. per-micro-batch vacuum) must pass a real
    *    grace window. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             minAgeMs: Long = 0L): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    val log = TableLog(spark, root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    // the entry first, so readVersion refuses before the data disappears
    log.versions.dropRight(math.max(keep, 1)).filter(log.published(_) < cutoff).foreach(log.drop)
    val named = log.versions.flatMap(log.dirs).toSet
    f.listStatus(rootPath).filter { st =>
      val name = st.getPath.getName
      st.isDirectory && name != TableLog.Dir && !named(name) && st.getModificationTime < cutoff
    }.foreach(st => f.delete(st.getPath, true))
  }
}
