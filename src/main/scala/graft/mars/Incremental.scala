package graft.mars

import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** dbt incremental materialization semantics over parquet table paths
  * (SURVEY §2.9). Nothing here filters by watermark: the caller hands in
  * only new rows — the loop's [[OffsetLog]] batch of input files no batch
  * has taken (SURVEY §7.4 item 5a), or a streaming micro-batch. Behaviors:
  *
  *  - append: [[Warehouse]] renames a batch's files into the table root
  *    (reference: flat_photo_response.sql:27-29 and all mart models);
  *    here only the flat-layout read. unique_key is declared by the
  *    reference but append does NOT dedup — preserved.
  *  - merge + unique_key: upsert — replace matching keys, insert new
  *    (reference: flat_manifest_response et al). No Delta in this
  *    environment, so: old ANTI-JOIN new ∪ new, written as an immutable
  *    VERSIONED SNAPSHOT (`vNNNNNNNN/`) under the table root and
  *    published by atomically CREATING a commit-marker file
  *    (`_commit_vNNNNNNNN`). Atomic file creation is the only primitive
  *    the design leans on — it is atomic on posix and HDFS alike,
  *    whereas an overwriting rename of a pointer file is delete+rename
  *    on the local filesystem (a real read-miss window; Hadoop's
  *    RawLocalFs does not override the atomic 3-arg renameInternal).
  *    Readers resolve the HIGHEST committed marker once at DataFrame
  *    creation, then read an immutable directory — a racing merge can
  *    never tear it. Old snapshots are retained until [[vacuum]] (the
  *    reader-grace contract, as in Delta).
  *  - view: just a lazy DataFrame; nothing to do here.
  *
  * Concurrent writers: a snapshot is staged under a unique `_stage_*`
  * dir, the version number is CLAIMED by exclusive marker creation
  * (`_claim_vN`), and only the claim winner renames its stage to `vN` —
  * two racing merges therefore publish two distinct, internally
  * consistent versions instead of overwriting each other's files. Note
  * the isolation level this buys: readers never see torn files, but two
  * merges that BOTH computed against the same base do not compose — the
  * higher claim wins the current pointer wholesale (snapshot-isolation
  * write-skew). Composing racing upserts needs an optimistic
  * check-and-retry on the base version (the Delta commit protocol),
  * which single-writer-per-table pipelines — this one — don't need.
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

  private val CommitPrefix = "_commit_"
  private val ClaimPrefix = "_claim_"
  private val StagePrefix = "_stage_"
  private val MetaFile = "_snapshot_meta"

  private def fs(spark: SparkSession, path: String) =
    LocalFs.get(path, spark.sparkContext.hadoopConfiguration)

  /** Exclusive marker creation — THE atomic primitive claims and commits
    * lean on. Hadoop's `FileSystem.createNewFile` is exists-then-create
    * on RawLocalFileSystem (no O_EXCL — a real double-claim window), so
    * local paths go through `java.io.File.createNewFile`, which the JDK
    * documents as atomic. Remote filesystems use `create(overwrite =
    * false)`; HDFS signals a lost race with FileAlreadyExistsException,
    * which is a lost claim, not an error. */
  private def createExclusive(f: FileSystem, p: Path): Boolean = {
    val q = f.makeQualified(p)
    if (q.toUri.getScheme == "file")
      new java.io.File(q.toUri.getPath).createNewFile()
    else
      try { f.create(q, false).close(); true }
      catch { case _: FileAlreadyExistsException => false }
  }

  private def names(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Nil else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** A table exists when it has a committed snapshot (versioned layout)
    * or direct data files (flat/append layout). A root holding only an
    * uncommitted snapshot dir — a writer crashed before the marker — is
    * NOT a table yet: the crashed write is invisible, which is exactly
    * the atomicity contract. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.exists(p) && {
      val entries = f.listStatus(p).toSeq
      entries.exists(_.getPath.getName.startsWith(CommitPrefix)) ||
        entries.exists(st => st.isFile && !st.getPath.getName.startsWith("_"))
    }
  }

  /** The live snapshot dir name — the highest committed version — when
    * `path` is a versioned root. Marker files are created atomically, so
    * a reader sees either the pre-merge or post-merge set, never an
    * intermediate state. */
  def currentSnapshot(spark: SparkSession, path: String): Option[String] =
    names(spark, path).filter(_.startsWith(CommitPrefix))
      .map(_.stripPrefix(CommitPrefix)).sorted.lastOption

  /** Resolves the current version ONCE, eagerly: the returned DataFrame
    * is bound to an immutable snapshot directory, so lazy evaluation
    * later — even mid-merge — reads a consistent table. Flat
    * (append-layout) paths read directly.
    *
    * With a `schema`, the read is pinned to it: no schema-inference job
    * (Spark's one-task footer scan per read). A stored column whose type
    * the schema cannot read fails the scan loudly; a pinned column the
    * stored files lack reads as null (additive evolution). */
  def read(spark: SparkSession, path: String,
           schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .parquet(currentSnapshot(spark, path).fold(path)(snap => s"$path/$snap"))

  /** incremental_strategy='merge' with unique_key: upsert via anti-join +
    * union, published as a fresh immutable snapshot (see writeSnapshot).
    * The source must already be incremental: dbt's is_incremental()
    * string `>` on a watermark would drop a batch stamped in the same
    * second as the previous one's max (SURVEY §7.4 item 5a). Keys match
    * null-safely (`<=>`), so a key holding a null replaces its old row
    * like any other and the table keeps one row per key (SURVEY §7.4
    * item 7); it is still an equi-join, planned as a hash or broadcast
    * join. [[Warehouse]] publishes through this entry. */
  def upsertSnapshot(spark: SparkSession, target: String, source: DataFrame,
                     keys: Seq[String], clusterBy: Seq[String] = Nil,
                     meta: Map[String, String] = Map.empty,
                     mergeSchema: Boolean = false): Unit = {
    if (!exists(spark, target)) {
      writeSnapshot(spark, target, source, clusterBy, meta)
      return
    }
    val old = read(spark, target)
    val incoming = source.select(
      keys.indices.map(i => col(keys(i)).as(s"_key$i")): _*).distinct()
    val kept = old.join(incoming,
      keys.indices.map(i => old(keys(i)) <=> incoming(s"_key$i")).reduce(_ && _),
      "left_anti")
    // schema evolution (opt-in, Delta mergeSchema): columns new to either
    // side null-fill on the other, so an upstream that grew a column
    // upserts without a table rewrite; default stays strict — the source
    // must project to the table's schema or the union fails loudly
    val merged =
      if (mergeSchema) kept.unionByName(source, allowMissingColumns = true)
      else kept.unionByName(source.select(old.columns.map(col).toIndexedSeq: _*))
    writeSnapshot(spark, target, merged, clusterBy, meta)
  }

  /** Stage `df` under a unique `_stage_*` dir, claim the next free
    * version by EXCLUSIVE marker creation, rename the stage to `vN`
    * (target guaranteed free by the claim), then publish with an atomic
    * `_commit_vN` create. Every step is crash-safe: a crash leaves at
    * worst a stage dir or a claimed-but-uncommitted version, both
    * invisible to readers and reclaimed by [[vacuum]]. */
  private def writeSnapshot(spark: SparkSession, root: String, df: DataFrame,
                            clusterBy: Seq[String], meta: Map[String, String]): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    val stage = new Path(rootPath, s"$StagePrefix${UUID.randomUUID()}")
    write(df, stage.toString, SaveMode.Overwrite, clusterBy)
    // The meta is staged INSIDE the snapshot dir, so it becomes visible in
    // the same atomic publish as the data: a version that records a batch
    // is a committed one, which Warehouse's re-run check leans on.
    // Underscore prefix keeps parquet readers blind to it.
    if (meta.nonEmpty) {
      val out = f.create(new Path(stage, MetaFile), true)
      try meta.foreach { case (k, v) =>
        require(!k.contains('\n') && !v.contains('\n'), "meta must be line-free")
        out.write(s"$k=$v\n".getBytes("UTF-8"))
      } finally out.close()
    }

    var attempts = 0
    var published = false
    while (!published) {
      attempts += 1
      require(attempts <= 1000, s"could not claim a snapshot version under $root")
      // next free version: above every committed, claimed, or orphaned dir
      val taken = names(spark, root).collect {
        case n if n.startsWith(CommitPrefix) => n.stripPrefix(CommitPrefix)
        case n if n.startsWith(ClaimPrefix)  => n.stripPrefix(ClaimPrefix)
        case n if n.matches("v\\d{8}")       => n
      }
      val next = taken.map(_.stripPrefix("v").toInt).maxOption.getOrElse(0) + 1
      val snap = f"v$next%08d"
      if (createExclusive(f, new Path(rootPath, s"$ClaimPrefix$snap"))) {
        val dest = new Path(rootPath, snap)
        require(f.rename(stage, dest), s"rename $stage -> $dest failed")
        // unchecked, the merge would "succeed" while readers never see vN
        // and the next vacuum reclaims its data as an orphan
        require(createExclusive(f, new Path(rootPath, s"$CommitPrefix$snap")),
          s"commit marker for $snap already exists or could not be created")
        published = true
      }
      // claim lost: another writer took this version — recompute and retry
    }
  }

  /** All snapshot dir names under a versioned root, oldest first —
    * including any orphaned (never-committed) write. */
  def snapshots(spark: SparkSession, root: String): Seq[String] =
    names(spark, root).filter(_.matches("v\\d{8}")).sorted

  /** Metadata recorded with the current version's publish (empty when
    * none was attached). */
  def snapshotMeta(spark: SparkSession, root: String): Map[String, String] =
    currentSnapshot(spark, root).map { snap =>
      val f = fs(spark, root)
      val p = new Path(new Path(root), s"$snap/$MetaFile")
      if (!f.exists(p)) Map.empty[String, String]
      else {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.contains('=')).map { l =>
            val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
          }.toMap
        finally in.close()
      }
    }.getOrElse(Map.empty)

  /** Time-travel read: a specific COMMITTED, retained snapshot version
    * (1-based, as in the dir name). An orphaned dir from a crashed
    * write, a never-claimed version, or a vacuumed one is refused. */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame = {
    val snap = f"v$version%08d"
    require(currentSnapshot(spark, root).nonEmpty,
      s"$root is not a versioned table")
    require(names(spark, root).contains(s"$CommitPrefix$snap"),
      s"version $version was never published or has been vacuumed")
    spark.read.parquet(s"$root/$snap")
  }

  /** Drop committed snapshots beyond the `keep` newest, plus every
    * uncommitted leftover (stage dirs, claims without commits, orphaned
    * snapshot dirs). Two safety contracts:
    *
    *  - the LIVE snapshot is never deleted — `keep` is clamped to ≥ 1, so
    *    even `keep = 0` cannot destroy the table;
    *  - `minAgeMs` is the reader/writer grace (Delta's retention hours):
    *    nothing newer than it is touched, so a reader pinned to a
    *    recently-expired version finishes its scan, and a writer's
    *    in-flight stage dir or fresh claim is not swept from under it.
    *    The default 0 is for single-writer batch pipelines that vacuum
    *    between jobs; concurrent callers (e.g. per-micro-batch vacuum)
    *    must pass a real grace window. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             minAgeMs: Long = 0L): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    val cutoff = System.currentTimeMillis() - minAgeMs
    val statuses = f.listStatus(rootPath).toSeq
    val age = statuses.map(st => st.getPath.getName -> st.getModificationTime).toMap
    def expired(name: String): Boolean = age.get(name).forall(_ < cutoff)
    val all = statuses.map(_.getPath.getName)
    val committed = all.filter(_.startsWith(CommitPrefix))
      .map(_.stripPrefix(CommitPrefix)).sorted
    // expired committed versions: delete the marker FIRST so readVersion
    // refuses before the data disappears
    val retained = committed.takeRight(math.max(keep, 1)).toSet
    committed.filterNot(retained).filter(s => expired(s"$CommitPrefix$s"))
      .foreach { snap =>
        f.delete(new Path(rootPath, s"$CommitPrefix$snap"), false)
        f.delete(new Path(rootPath, snap), true)
      }
    // crashed-writer leftovers: stages, claims without a RETAINED commit
    // (a claim whose version just expired above goes with it), dirs
    // without a retained commit — each only once older than the grace
    all.filter(_.startsWith(StagePrefix)).filter(expired)
      .foreach(n => f.delete(new Path(rootPath, n), true))
    all.filter(_.startsWith(ClaimPrefix))
      .filterNot(n => retained.contains(n.stripPrefix(ClaimPrefix)))
      .filter(expired)
      .foreach(n => f.delete(new Path(rootPath, n), false))
    all.filter(_.matches("v\\d{8}")).filterNot(retained).filter(expired)
      .foreach(n => f.delete(new Path(rootPath, n), true))
  }

  /** dbt cluster_by → repartition on the first key + sort within
    * partitions on all of them: co-locates key ranges so parquet row-group
    * min/max stats prune on the cluster keys (SURVEY §2.9). The write
    * takes [[LocalFs.writeOptions]], so a local path forks no `chmod`. */
  private[mars] def write(df: DataFrame, path: String, mode: SaveMode,
                    clusterBy: Seq[String]): Unit = {
    val arranged =
      if (clusterBy.isEmpty) df
      else df.repartition(col(clusterBy.head))
        .sortWithinPartitions(clusterBy.map(col): _*)
    arranged.write.options(LocalFs.writeOptions).mode(mode).parquet(path)
  }
}
