package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.{CurationGates, TextOps}

/** The STREAMING face of [[graft.text.CurationPipeline]]: each
  * micro-batch passes the same stage-1 gates (the shared
  * [[CurationGates]] expressions, so batch and stream cannot drift),
  * then stage 1.5 line-grain boilerplate removal against an ACCUMULATED
  * line-document-frequency store (one micro-batch alone cannot see
  * corpus-wide boilerplate), and then near-dup ADMISSION against
  * [[NearDupIngest]]'s persisted band store — which subsumes exact dedup
  * (identical documents carry identical MinHash signatures, so the store
  * vetoes them first). Decontamination (`decontaminateAuto`) is
  * deliberately not folded in here: benchmark sets change independently
  * of ingest, so production scrubs them on READ paths (the batch
  * pipeline) rather than baking a benchmark snapshot into admission.
  *
  * Line-stage semantics vs batch: [[graft.text.CurationPipeline]] counts
  * line document-frequency over its WHOLE input in one pass; the stream
  * decides at admission time against (stored df + this batch's df), so a
  * line is dropped from every document arriving AT or AFTER the batch
  * where its cumulative df crosses `lineMaxDocs` — documents admitted
  * earlier keep it (they were clean when admitted; rewriting history is
  * the batch pipeline's job on re-curation). Same threshold, same
  * [[TextOps.lineRemove]] rewrite, same drop-empty-doc +
  * recompute-n_chars rules as the batch stage. The df deltas land in
  * `storeDir/linedf/batch_id=<id>/` — batch-path-keyed OVERWRITE, so a
  * replay that died between the delta write and the applied-marker
  * rewrites the same partition instead of double-counting (the audit
  * rows' posture). Deltas are counted from the GATED batch (the stage's
  * actual input, the CCNet posture of counting over the crawl before
  * dedup), not from admitted survivors — so a near-dup veto never hides
  * boilerplate evidence.
  *
  * Line-df maintenance is LSM-shaped so the per-batch WRITE is
  * O(batch), not O(keys) — the r7 residual (rewriting the full
  * cumulative (h, n_docs) table every micro-batch pays
  * corpus-line-cardinality per batch at 100 TB) closed the way
  * log-structured stores close it:
  *
  *  - every batch writes ONLY its delta `storeDir/linedf/batch_id=<id>`
  *    (batch-sized), with a `_nrows_<n>` sidecar so cadence decisions
  *    are filesystem-listing reads, never data scans;
  *  - the heavy set is DERIVED per batch from (newest compacted
  *    snapshot `storeDir/linedf_snap/v=<id>` ∪ deltas since it)
  *    re-summed — one key-grain shuffle, read-bounded by the cadence
  *    (deltas accumulate to at most ~compactFactor·|keys| rows before
  *    they are folded away);
  *  - COMPACTION runs only when accumulated delta rows reach
  *    max(compactMinRows, compactFactor·snapshotRows) — the classic
  *    size-ratio cadence, so snapshot writes are geometrically spaced
  *    and the total bytes written across the store's lifetime is
  *    O(total delta rows) — amortized O(batch) per batch.
  *
  * Replay determinism: a batch folds onto the newest snapshot STRICTLY
  * BELOW its own id plus the un-subsumed deltas in between, and
  * retention runs LAST (after the applied-marker), so a crash anywhere
  * mid-batch replays against intact inputs to byte-identical state.
  * `keepVersions` (default 2: current + fallback) bounds the snapshot
  * directory; deltas at-or-below the OLDEST kept snapshot version are
  * subsumed by it and pruned with it, recorded in a
  * `_pruned_thru_<v>` tombstone. The tombstone backs the r8 retention
  * guards: a replayed batch at-or-below the pruned horizon, or a
  * pre-snapshot fold attempted after pruning has discarded history,
  * REFUSES with IllegalStateException instead of silently
  * under-counting df from the post-pruning delta directory (the
  * doubly-degraded lost-marker + elapsed-retention edge r7 named).
  * A store that predates the snapshot upgrades itself at its first
  * compaction: with no snapshot present, the whole legacy delta
  * directory collapses into the first version (one O(history) fold,
  * once).
  *
  * Per-batch audit rows (n_input, n_gated, n_line_touched,
  * n_dropped_empty, n_admitted, n_rejected_near_dup) land in
  * `storeDir/audit/batch_id=<id>/` — batch-path-keyed overwrite, the
  * VectorIngest drift-log posture. Schema note for stores that predate
  * the line stage: their early audit partitions carry only the original
  * four columns, so reads across an upgraded store's whole audit
  * directory must pass `mergeSchema=true` (plain reads infer from one
  * arbitrary footer; the two line-stage columns surface as NULL for old
  * batches, which is the honest value — the stage did not run). Replay: [[NearDupIngest.applyBatch]]'s
  * applied-marker makes admission a no-op, and this wrapper checks the
  * same marker BEFORE gating so a replayed batch neither recomputes
  * signals nor rewrites its audit row with no-op zeros. A crash between
  * the marker and the audit write loses that batch's audit row (never
  * corpus data) — the documented marker-after-write window
  * [[CorpusIngest]] carries too.
  */
object StreamingCuration {

  /** Partition-style child names (`prefix<id>`) under `dir`, sorted. */
  private def childIds(spark: SparkSession, dir: String,
                       prefix: String): Seq[Long] = {
    val f = StoreFs.fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .sorted
  }

  /** Row-count sidecar: an empty `_nrows_<n>` file inside a parquet
    * partition dir (underscore-prefixed, so readers ignore it). Cadence
    * decisions read these by LISTING — no data scan per batch. */
  private def writeNrows(spark: SparkSession, dir: String, n: Long): Unit =
    StoreFs.touch(spark, s"$dir/_nrows_$n")

  /** Sidecar row count, falling back to a parquet count for legacy
    * partitions written before the sidecar existed. The fallback
    * BACKFILLS the sidecar it just computed, so a legacy partition pays
    * the data scan exactly once ever — not once per batch until a
    * compaction folds it away. Should multiple sidecars ever coexist
    * (a backfill racing a writer), the max wins: counts only grow by
    * append on a partition dir, so the largest marker is the current one. */
  private def readNrows(spark: SparkSession, dir: String): Long = {
    val ids = childIds(spark, dir, "_nrows_")
    if (ids.nonEmpty) ids.max
    else {
      val n = spark.read.parquet(dir).count()
      writeNrows(spark, dir, n)
      n
    }
  }

  /** The retention tombstone: all deltas with id ≤ the recorded value
    * have been pruned (they were subsumed by a kept snapshot). */
  private def prunedThru(spark: SparkSession, snapDir: String): Option[Long] =
    childIds(spark, snapDir, "_pruned_thru_").lastOption

  /** The cumulative line-df view (newest snapshot ∪ un-subsumed
    * deltas, re-summed): what the batch pipeline would count over the
    * whole corpus, served from the LSM store. Introspection/spec
    * surface — [[applyBatch]] derives its heavy set from the same fold
    * pinned to the replaying batch's own horizon. */
  def lineDf(spark: SparkSession, storeDir: String): DataFrame = {
    val snapDir = s"$storeDir/linedf_snap"
    val vStar = childIds(spark, snapDir, "v=").lastOption
    val deltaIds = childIds(spark, s"$storeDir/linedf", "batch_id=")
      .filter(id => vStar.forall(id > _))
    foldLineDf(spark, storeDir, vStar, deltaIds)
  }

  /** (snapshot vStar ∪ deltas) → groupBy(h).sum(n_docs). */
  private def foldLineDf(spark: SparkSession, storeDir: String,
                         vStar: Option[Long], deltaIds: Seq[Long]): DataFrame = {
    val deltaPaths = deltaIds.map(id => s"$storeDir/linedf/batch_id=$id")
    val parts = vStar.map(v => s"$storeDir/linedf_snap/v=$v").toSeq ++ deltaPaths
    if (parts.isEmpty)
      spark.range(0).select(col("id").as("h"), col("id").as("n_docs"))
    else
      spark.read.parquet(parts: _*)
        .groupBy("h").agg(sum("n_docs").as("n_docs"))
  }

  /** Apply one batch; returns (gated, admitted, rejectedNearDup).
    * Idempotent per batchId. */
  def applyBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                 storeDir: String, k: Int = 8, threshold: Double = 0.5,
                 lineMaxDocs: Int = 3, keepVersions: Int = 2,
                 compactMinRows: Long = 65536L,
                 compactFactor: Double = 1.0): (Long, Long, Long) = {
    val spark = batch.sparkSession
    // marker resolved via Hadoop FS (StoreFs) so replay-idempotence
    // holds on non-local storeDirs too, not just file://
    if (StoreFs.exists(spark, s"$storeDir/_applied/batch-$batchId"))
      return (0L, 0L, 0L)
    val nIn = batch.count()
    // gates are row-local signal expressions — batch-sized work, and the
    // SAME expressions the batch pipeline filters on
    val gated = CurationGates.gate(batch).localCheckpoint()
    val nGated = gated.count()

    // stage 1.5: cumulative line-df decides boilerplate; idempotent
    // delta write BEFORE the fold, so this batch's own lines
    // participate in its threshold decision exactly once
    val lineDfDir = s"$storeDir/linedf"
    val snapDir = s"$storeDir/linedf_snap"
    val deltaDir = s"$lineDfDir/batch_id=$batchId"
    // r8 retention guards (the doubly-degraded edge r7 named): refuse
    // to fold when the store's history for this batch is GONE, instead
    // of silently under-counting df from what survives. Any snapshot
    // ABOVE this batch means later batches already folded — a replay
    // here can only be a manually cleared marker racing history.
    // Checked BEFORE the delta write so a refused replay leaves no
    // stale partition behind
    val snapIds = childIds(spark, snapDir, "v=")
    val horizon = prunedThru(spark, snapDir)
    if (snapIds.exists(_ > batchId))
      throw new IllegalStateException(
        s"batch $batchId replay: snapshot v=${snapIds.last} already folded " +
          "later batches; refusing to rewrite history")
    if (horizon.exists(batchId <= _))
      throw new IllegalStateException(
        s"batch $batchId replay is at-or-below the pruned retention " +
          s"horizon (deltas <= ${horizon.get} are gone); a fold here " +
          "would under-count line df")
    val vStar = snapIds.filter(_ < batchId).lastOption
    if (vStar.isEmpty && horizon.isDefined)
      throw new IllegalStateException(
        s"batch $batchId replay: no snapshot below it but deltas were " +
          s"pruned thru ${horizon.get}; a pre-snapshot fold would " +
          "under-count line df")

    TextOps.lineHashCounts(gated)
      .write.mode("overwrite").parquet(deltaDir)
    writeNrows(spark, deltaDir, spark.read.parquet(deltaDir).count())
    // fold horizon pinned to THIS batch: newest snapshot STRICTLY
    // below, plus the un-subsumed deltas up to and including our own —
    // a replay (marker lost mid-batch) re-derives the same heavy set
    // byte-identically because retention runs last
    val deltaIds = childIds(spark, lineDfDir, "batch_id=")
      .filter(id => vStar.forall(id > _) && id <= batchId)
    val cumulative = foldLineDf(spark, storeDir, vStar, deltaIds)

    // size-ratio compaction cadence: fold the deltas away only when
    // they have grown to compactFactor × the snapshot (floored at
    // compactMinRows) — snapshot writes are geometrically spaced, so
    // lifetime bytes written stay O(total delta rows), amortized
    // O(batch) per batch; every other batch writes its delta ONLY.
    // Counts come from the _nrows_ sidecars: a pure listing, no scan
    val snapRows = vStar.map(v => readNrows(spark, s"$snapDir/v=$v"))
      .getOrElse(0L)
    val deltaRowsSince =
      deltaIds.map(id => readNrows(spark, s"$lineDfDir/batch_id=$id")).sum
    val compact = deltaRowsSince >=
      math.max(compactMinRows, (snapRows * compactFactor).toLong)
    val heavy = (if (compact) {
      val vDir = s"$snapDir/v=$batchId"
      cumulative.write.mode("overwrite").parquet(vDir)
      writeNrows(spark, vDir, spark.read.parquet(vDir).count())
      spark.read.parquet(vDir)
    } else cumulative)
      .filter(col("n_docs") > lineMaxDocs).select("h")
      // the heavy set feeds the size-gated removal join more than once
      // (gate probe + anti-join); pin the fold so the snapshot∪delta
      // shuffle runs once, and the pinned result is heavy-lines-sized
      .localCheckpoint()
    // the SAME rewrite+drop+recompute block the batch pipeline runs —
    // one helper, so admission-time and re-curation semantics cannot
    // drift (only the heavy-set derivation differs: cumulative df here,
    // single-pass df there)
    val lineDeduped =
      TextOps.applyLineRemoval(gated, heavy).localCheckpoint()
    val nLineTouched = lineDeduped.filter(col("n_removed") > 0).count()
    val nDroppedEmpty = nGated - lineDeduped.count()
    val cleaned = lineDeduped.select(batch.columns.map(col): _*)

    val (admitted, rejected) =
      NearDupIngest.applyBatch(cleaned, batchId, corpusDir, storeDir, k,
        threshold)
    import spark.implicits._
    Seq((nIn, nGated, nLineTouched, nDroppedEmpty, admitted, rejected))
      .toDF("n_input", "n_gated", "n_line_touched", "n_dropped_empty",
        "n_admitted", "n_rejected_near_dup")
      .write.mode("overwrite").parquet(s"$storeDir/audit/batch_id=$batchId")

    // retention: runs LAST (after marker + audit), so a crash anywhere
    // above replays against intact inputs. A kept snapshot subsumes
    // every delta at-or-below its version; keep the newest
    // `keepVersions` snapshots (current + replay fallback) and prune
    // deltas at-or-below the OLDEST kept version — the replay of any
    // reachable batch still finds its fallback snapshot plus every
    // delta between it and itself. Pruning records its bound in the
    // `_pruned_thru_` tombstone that backs the guards above
    if (compact) {
      val f = StoreFs.fs(spark, storeDir)
      val allSnaps = childIds(spark, snapDir, "v=")
      val kept = allSnaps.takeRight(math.max(1, keepVersions)).toSet
      allSnaps
        .filter(v => v < batchId && !kept.contains(v))
        .foreach(v => f.delete(new Path(s"$snapDir/v=$v"), true))
      val oldestKept = kept.min
      val prunable = childIds(spark, lineDfDir, "batch_id=")
        .filter(_ <= oldestKept)
      if (prunable.nonEmpty) {
        // tombstone FIRST, then prune, then sweep superseded tombstones
        // (r8 review): a crash mid-retention must leave the guards ARMED
        // — an early tombstone over not-yet-pruned deltas only makes the
        // guards stricter (refuse a replay that could have succeeded),
        // never silent; prunedThru reads lastOption = max, so a lagging
        // old tombstone alongside the new one is harmless
        val bound = math.max(oldestKept,
          prunedThru(spark, snapDir).getOrElse(Long.MinValue))
        StoreFs.touch(spark, s"$snapDir/_pruned_thru_$bound")
        prunable.foreach(b =>
          f.delete(new Path(s"$lineDfDir/batch_id=$b"), true))
        childIds(spark, snapDir, "_pruned_thru_").filter(_ < bound)
          .foreach(v => f.delete(new Path(s"$snapDir/_pruned_thru_$v"), false))
      }
    }
    (nGated, admitted, rejected)
  }

  /** Continuous curated ingest over a documents stream. */
  def ingestStream(source: DataFrame, corpusDir: String, storeDir: String,
                   checkpointDir: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, corpusDir, storeDir); ()
      }
      .start()
}
