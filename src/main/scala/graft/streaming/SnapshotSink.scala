package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.mars.Incremental

/** Exactly-once streaming upsert into a versioned snapshot table —
  * `foreachBatch` → [[Incremental.upsertSnapshot]] / [[Incremental.scd2Merge]]
  * with the micro-batch id recorded INSIDE the published version.
  *
  * Why this is exactly-once where an applied-batch marker is only
  * at-least-once: a marker is a separate file written AFTER the data
  * append, so a crash between the two duplicates on replay. Here the
  * batch id travels in the snapshot dir itself and becomes visible in
  * the same atomic commit-marker publish as the data (the Delta `txnAppId`/`txnVersion` idempotent-writer pattern):
  *
  *  - crash BEFORE the commit marker → the version is invisible to
  *    readers AND to [[lastBatchId]] (which reads only the COMMITTED
  *    current version — an orphaned dir's meta is never consulted), so
  *    the replayed batch merges again, one outcome;
  *  - crash AFTER the commit marker → the replayed id is ≤ the recorded
  *    watermark, the batch is skipped, one outcome.
  *
  * The skip test is `batchId <= recorded` — valid because foreachBatch
  * ids are strictly increasing per checkpoint and only the newest batch
  * can be re-delivered. Snapshot metadata behaves like table properties
  * (each publish inherits the current version's meta), so the watermark
  * survives [[Incremental.vacuum]], [[Incremental.compact]], and
  * interleaved non-streaming merges that record no id — and reading it
  * is O(1): one listing plus one meta file, regardless of retained
  * version count. A NEW checkpoint restarts ids at 0, so — as with any
  * txnVersion sink — a fresh checkpoint needs a fresh table.
  *
  * The merge ([[Incremental.upsertSnapshot]]) deliberately takes no dbt
  * high-watermark filter: a micro-batch is already incremental, and
  * the watermark guard would silently drop rows whose
  * watermark value ties a previous batch's max (two batches landing
  * within one date-grain value).
  *
  * Scale: the merge cost per micro-batch is the snapshot-store contract
  * (anti-join + rewrite, suited to dimension/state-grain tables); the
  * exactly-once machinery adds two metadata file operations per batch
  * and nothing per-row.
  */
object SnapshotSink {

  val BatchIdKey = "streaming.batchId"

  /** The applied-batch watermark: the CURRENT committed version's
    * recorded id (−1 when none). Meta inheritance makes this the max id
    * ever committed, whatever maintenance or merges happened since. */
  def lastBatchId(spark: SparkSession, target: String): Long =
    Incremental.snapshotMeta(spark, target)
      .get(BatchIdKey).map(_.toLong).getOrElse(-1L)

  /** Idempotently fold one micro-batch into the table. Returns true when
    * the batch was applied, false when its id was already folded. */
  def applyUpsert(batch: DataFrame, batchId: Long, target: String,
                  keys: Seq[String], clusterBy: Seq[String] = Nil): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= lastBatchId(spark, target)) false
    else {
      Incremental.upsertSnapshot(spark, target, batch, keys, clusterBy,
        meta = Map(BatchIdKey -> batchId.toString))
      true
    }
  }

  /** The SCD2 face: fold a micro-batch of change events into a type-2
    * history table, same idempotence contract. (scd2Merge needs no
    * watermark bypass — its late-data handling is per-entity against the
    * open version, not a global high-watermark.) */
  def applyScd2(batch: DataFrame, batchId: Long, target: String,
                keys: Seq[String], updatedAt: String,
                checkCols: Seq[String]): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= lastBatchId(spark, target)) false
    else {
      Incremental.scd2Merge(spark, target, batch, keys, updatedAt, checkCols,
        meta = Map(BatchIdKey -> batchId.toString))
      true
    }
  }

  /** Continuous upsert: every micro-batch becomes one committed version. */
  def upsertStream(source: DataFrame, target: String, keys: Seq[String],
                   checkpointDir: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyUpsert(b, id, target, keys); ()
      }
      .start()

  /** Continuous SCD2: a change stream maintains the full type-2 history —
    * the streaming face of the dbt `snapshot` materialization. */
  def scd2Stream(source: DataFrame, target: String, keys: Seq[String],
                 updatedAt: String, checkCols: Seq[String],
                 checkpointDir: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyScd2(b, id, target, keys, updatedAt, checkCols); ()
      }
      .start()
}
