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
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

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
    * second as the previous one's max (SURVEY §7.4 item 5a). [[Warehouse]]
    * and [[graft.streaming.SnapshotSink]] publish through this entry. */
  def upsertSnapshot(spark: SparkSession, target: String, source: DataFrame,
                     keys: Seq[String], clusterBy: Seq[String] = Nil,
                     meta: Map[String, String] = Map.empty,
                     mergeSchema: Boolean = false): Unit = {
    if (!exists(spark, target)) {
      writeSnapshot(spark, target, source, clusterBy, meta = meta)
      return
    }
    val old = read(spark, target)
    val kept = old.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
    // schema evolution (opt-in, Delta mergeSchema): columns new to either
    // side null-fill on the other, so an upstream that grew a column
    // upserts without a table rewrite; default stays strict — the source
    // must project to the table's schema or the union fails loudly
    val merged =
      if (mergeSchema) kept.unionByName(source, allowMissingColumns = true)
      else kept.unionByName(source.select(old.columns.map(col).toIndexedSeq: _*))
    writeSnapshot(spark, target, merged, clusterBy, meta = meta)
  }

  /** dbt `snapshot` materialization — SCD type-2 history over a mutable
    * entity (the fourth dbt materialization; the reference scaffolds
    * `dbt/martian_moments/snapshots/` for it but ships none, so this is
    * the one dbt surface a reference user could invoke that `append` /
    * `merge` / `view` don't cover). Check-strategy semantics: a source
    * row opens a new version only when its tracked state differs from
    * the entity's current version; the superseded version is closed with
    * the newcomer's `updatedAt`.
    *
    * Target schema: `keys ++ checkCols ++ (valid_from, valid_to)`;
    * `valid_to IS NULL` marks the current version. The table is published
    * through the same versioned-snapshot store as [[upsertSnapshot]],
    * so racing readers see a committed history or none.
    *
    * Batches must arrive forward in time: a source row at or before the
    * entity's open `valid_from` is late data and is dropped (dbt compares
    * against the current record only — identical contract). One row per
    * (key, updatedAt) is required; ties have no defined version order.
    *
    * Scale: one shuffle on the entity key; closed history is carried via
    * union, never re-windowed — the window runs only over (open ∪ fresh),
    * which is O(entities + batch), not O(history). Equivalence with the
    * one-shot reconstruction (`q61_scd2`) is pinned by Scd2Spec. */
  def scd2Merge(spark: SparkSession, target: String, source: DataFrame,
                keys: Seq[String], updatedAt: String,
                checkCols: Seq[String], clusterBy: Seq[String] = Nil,
                meta: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.expressions.Window
    val batch = source.select(
      (keys ++ checkCols).map(col) :+ col(updatedAt).as("valid_from"): _*)
    val (closed, openAndFresh) =
      if (!exists(spark, target)) {
        (None, batch)
      } else {
        val cur = read(spark, target)
        val open = cur.filter(col("valid_to").isNull).drop("valid_to")
        val openFrom = open.select(
          keys.map(col) :+ col("valid_from").as("_open_from"): _*)
        val fresh = batch.join(openFrom, keys, "left")
          .filter(col("_open_from").isNull ||
            col("valid_from") > col("_open_from"))
          .drop("_open_from")
        (Some(cur.filter(col("valid_to").isNotNull)), open.unionByName(fresh))
      }
    // gaps-and-islands over the combined current + incoming versions:
    // drop rows whose tracked state equals the previous version's, then
    // close each surviving version with the next one's start. Both
    // windows share one shuffle+sort on the entity key.
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("valid_from"))
    val state = struct(checkCols.map(col): _*)
    val rebuilt = openAndFresh
      .withColumn("_prev", lag(state, 1).over(w))
      .filter(col("_prev").isNull || !(col("_prev") <=> state))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .drop("_prev")
    val full = closed.fold(rebuilt)(_.unionByName(rebuilt))
    writeSnapshot(spark, target, full, clusterBy, meta = meta)
  }

  /** Takedown / right-to-be-forgotten: publish a new version WITHOUT the
    * rows matching `condition` (NULL-condition rows are KEPT — SQL DELETE
    * semantics). Returns the number of rows removed. One counting scan
    * plus the rewrite; at scale, partition/row-group pruning on the
    * condition columns (cluster_by / compact sortBy on them) bounds what
    * is actually read, and `clusterBy` preserves that layout across the
    * rewrite. Publishes with the conflict-abort (`onlyIfCurrent`) and
    * RETRIES from the fresh base when a concurrent merge lands first —
    * a delete recomputed on the newer version neither resurrects taken-
    * down rows nor shadows the merge (Delta's DELETE conflict-retry).
    * COMPLIANCE NOTE: prior versions still hold the deleted rows until
    * [[vacuum]] drops them — a takedown is complete only after `vacuum`
    * has expired every version that predates it (VACUUM-after-DELETE). */
  def deleteWhere(spark: SparkSession, target: String,
                  condition: org.apache.spark.sql.Column,
                  clusterBy: Seq[String] = Nil): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 20, s"deleteWhere could not publish under $target " +
        "(persistent write contention, or a crashed writer's stale claim — " +
        "run vacuum)")
      val base = currentSnapshot(spark, target).getOrElse(
        throw new IllegalArgumentException(s"$target is not a versioned table"))
      val cur = spark.read.parquet(s"$target/$base")
      val removed = cur.filter(coalesce(condition, lit(false))).count()
      if (removed == 0) return 0L
      val kept = cur.filter(!coalesce(condition, lit(false)))
      if (writeSnapshot(spark, target, kept, clusterBy,
            onlyIfCurrent = Some(base)))
        return removed
      // a writer committed since `base` was read — recompute on its version
    }
    0L // unreachable
  }

  /** Stage `df` under a unique `_stage_*` dir, claim the next free
    * version by EXCLUSIVE marker creation, rename the stage to `vN`
    * (target guaranteed free by the claim), then publish with an atomic
    * `_commit_vN` create. Every step is crash-safe: a crash leaves at
    * worst a stage dir or a claimed-but-uncommitted version, both
    * invisible to readers and reclaimed by [[vacuum]]. */
  private[graft] def writeSnapshot(spark: SparkSession, root: String, df: DataFrame,
                            clusterBy: Seq[String],
                            onlyIfCurrent: Option[String] = None,
                            meta: Map[String, String] = Map.empty): Boolean = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    val stage = new Path(rootPath, s"$StagePrefix${UUID.randomUUID()}")
    write(df, stage.toString, SaveMode.Overwrite, clusterBy)
    // Metadata behaves like TABLE PROPERTIES: each publish inherits the
    // current committed version's meta and overlays its own keys, so a
    // property (e.g. SnapshotSink's applied-batch watermark) survives
    // interleaved merges that don't set it, and vacuum of old versions.
    // It is staged INSIDE the snapshot dir, so it becomes visible in the
    // same atomic publish as the data — the exactly-once hook SnapshotSink
    // leans on. Underscore prefix keeps parquet readers blind to it.
    val effectiveMeta = snapshotMeta(spark, root) ++ meta
    if (effectiveMeta.nonEmpty) {
      val out = f.create(new Path(stage, MetaFile), true)
      try effectiveMeta.foreach { case (k, v) =>
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
        // rewrite-in-place publishes (compact) abandon when another writer
        // committed since the rewrite read its base — committing a copy of
        // OLD data on top of the newcomer would shadow its changes — or
        // when a lower-numbered claim is still UNCOMMITTED: that writer
        // carries newer data and would commit beneath our higher version,
        // shadowed the moment our copy publishes. (A claim that lands in
        // the instant between this listing and our commit marker is the
        // residual window; the vacuum-cleaned single-maintenance-writer
        // contract covers it, as documented on vacuum.)
        if (onlyIfCurrent.exists { base =>
              val listing = names(spark, root)
              val committed = listing.filter(_.startsWith(CommitPrefix))
                .map(_.stripPrefix(CommitPrefix))
              val pendingClaims = listing.filter(_.startsWith(ClaimPrefix))
                .map(_.stripPrefix(ClaimPrefix))
                .filterNot(committed.toSet)
                .filterNot(_ == snap)
              committed.sorted.lastOption != Some(base) || pendingClaims.nonEmpty
            }) {
          f.delete(new Path(rootPath, s"$ClaimPrefix$snap"), false)
          f.delete(stage, true)
          return false
        }
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
    true
  }

  /** OPTIMIZE-style compaction: rewrite the CURRENT snapshot as
    * `ceil(on-disk bytes / targetFileBytes)` files, published as a new
    * committed version holding identical rows. The streaming merge loop
    * writes one snapshot per micro-batch with one file per shuffle
    * partition — at scale that is the small-file problem (listing cost,
    * per-file task scheduling, row groups too small for their stats to
    * prune anything). Compaction bin-packs via `coalesce` (merges input
    * splits, NO shuffle); passing `sortBy` instead range-partitions and
    * sorts (one shuffle) so file- and row-group-level min/max stats
    * become disjoint on those keys — the cluster_by pruning contract
    * re-established after many unsorted merges.
    *
    * `zorderBy` (exactly two non-negative int columns, exclusive with
    * `sortBy`) lays files along the Morton curve instead — OPTIMIZE
    * ZORDER: each file covers a tight rectangle in BOTH dimensions, so
    * min/max stats prune point/range predicates on either column, where
    * a plain sort only serves its leading column.
    *
    * Returns false without publishing when another writer committed
    * between the read and the publish — compacting stale data on top of
    * a fresh merge would shadow it (Delta OPTIMIZE's conflict-abort).
    * Readers are unaffected either way: both versions hold the same
    * rows, and old versions stay readable until [[vacuum]]. */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil): Boolean = {
    require(zorderBy.isEmpty || zorderBy.length == 2,
      "zorderBy takes exactly two columns")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are exclusive layouts")
    val snap = currentSnapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table"))
    val f = fs(spark, root)
    val dir = new Path(new Path(root), snap)
    val bytes = f.getContentSummary(dir).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.parquet(dir.toString)
    val arranged =
      if (zorderBy.nonEmpty)
        graft.ops.ZOrder.layoutBy(df, zorderBy.head, zorderBy(1), files = nFiles)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(nFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(nFiles)
    // carry the base version's metadata forward: a compacted copy of the
    // data must not erase e.g. a streaming sink's applied-batch watermark
    writeSnapshot(spark, root, arranged, Nil, onlyIfCurrent = Some(snap),
      meta = snapshotMeta(spark, root, Some(snap.stripPrefix("v").toInt)))
  }

  /** All snapshot dir names under a versioned root, oldest first —
    * including any orphaned (never-committed) write. */
  def snapshots(spark: SparkSession, root: String): Seq[String] =
    names(spark, root).filter(_.matches("v\\d{8}")).sorted

  /** Metadata recorded with a snapshot's publish (empty when none was
    * attached). Reads the CURRENT version when `version` is None. */
  def snapshotMeta(spark: SparkSession, root: String,
                   version: Option[Int] = None): Map[String, String] = {
    val snapOpt = version.map(v => f"v$v%08d")
      .orElse(currentSnapshot(spark, root))
    snapOpt.map { snap =>
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
  }

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

  /** CDC read: the row-level delta between two committed versions, as a
    * frame of (keys…, change_type ∈ insert|update|delete, _before,
    * _after) — before/after are payload structs (null image on the
    * absent side). Because every version is a full snapshot, the diff IS
    * the change feed — one full-outer join keyed on the table key,
    * co-partitionable (both sides are the same table, so cluster_by /
    * bucketing lines the shuffle up), with the unchanged majority
    * dropped by the null-safe struct compare, the same `<=>` idiom the
    * SCD2 merge uses. Survives additive schema evolution: a column the
    * older version predates reads as null in `_before`, so its
    * appearance alone does not fabricate updates for otherwise-unchanged
    * rows — only rows whose values actually differ surface. */
  def changesBetween(spark: SparkSession, root: String, fromVersion: Int,
                     toVersion: Int, keys: Seq[String]): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val from = readVersion(spark, root, fromVersion)
    val to = readVersion(spark, root, toVersion)
    val payload = to.columns.filterNot(keys.contains).toSeq
    def image(df: DataFrame, as: String) = df.select(
      keys.map(col) :+ struct(payload.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(to.schema(c).dataType).as(c)
      }: _*).as(as): _*)
    image(from, "_before").join(image(to, "_after"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_before").isNull, lit("insert"))
          .when(col("_after").isNull, lit("delete"))
          .when(!(col("_before") <=> col("_after")), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++ Seq(col("change_type"), col("_before"),
        col("_after")): _*)
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
    * min/max stats prune on the cluster keys (SURVEY §2.9). */
  private[mars] def write(df: DataFrame, path: String, mode: SaveMode,
                    clusterBy: Seq[String]): Unit = {
    val arranged =
      if (clusterBy.isEmpty) df
      else df.repartition(col(clusterBy.head))
        .sortWithinPartitions(clusterBy.map(col): _*)
    arranged.write.mode(mode).parquet(path)
  }
}
