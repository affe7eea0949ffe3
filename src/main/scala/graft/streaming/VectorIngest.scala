package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sim.Embeddings

/** Streaming maintenance of the persisted IVF index: each micro-batch
  * routes its vectors to their nearest existing centroid and appends
  * those postings partitions — [[Embeddings.appendToIvfIndex]] made safe
  * for a restarting stream.
  *
  * Exactly-once by IDEMPOTENCE, not by a transaction: plain parquet
  * `append` cannot commit a batch-id marker atomically with data (that
  * is the versioned store's trick, [[SnapshotSink]]), so instead every
  * batch anti-joins the postings on `vec_id` before appending — an
  * 8-byte-column scan of the index, partition-prunable at scale. A
  * replayed batch finds all its ids present and appends nothing; a crash
  * MID-append leaves a partial batch whose replay appends exactly the
  * missing remainder. Both converge to one posting per vector. Contract:
  * `vec_id` is unique upstream (the vector lake's natural key).
  *
  * Plain [[applyBatch]] only routes into existing cells (which keeps the
  * append partition-local) and leaves drift to the batch path;
  * [[applyBatchMaintained]] closes the loop — per-batch drift telemetry
  * against the stored centroids, and a threshold that schedules the
  * [[Embeddings.kmeansTrain]] refresh + wholesale index rebuild. */
object VectorIngest {

  /** Idempotently fold one micro-batch of (vec_id, embedding) rows. */
  def applyBatch(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$indexDir/centroids")),
      s"no IVF index at $indexDir — build with Embeddings.buildIvfIndex")
    // persist the routed batch: it is read twice (the cell-list collect in
    // unseenOf, then the anti-join) and routing is the batch's one
    // crossJoin — recomputing it would double the micro-batch's work.
    val routed = Embeddings.routeToIvfCells(spark, indexDir,
      batch.dropDuplicates("vec_id")).persist()
    try {
      Embeddings.appendRoutedToIvf(unseenOf(routed, indexDir), indexDir)
    } finally { routed.unpersist(); () }
  }

  /** The routed batch rows not yet in the index, write-ready.
    *
    * The dedup anti-join is CELL-SCOPED: the postings side is filtered to
    * `cell IN (batch's cells)` — a static partition filter, so the scan
    * reads only the partitions this batch can possibly collide with
    * instead of the whole index. Sound because routing is deterministic
    * under a fixed centroid table ([[Embeddings.routeToIvfCells]]): a
    * vec_id already present sits in exactly the cell the replay routes it
    * to (a centroid rebuild rewrites the postings wholesale, so stale
    * placements cannot survive one). At 100 TB this turns the per-batch
    * dedup read from O(index) into O(touched cells). The collected cell
    * list is bounded by the centroid count — a driver-side scalar, not
    * data volume. */
  private[graft] def unseenOf(routed: DataFrame, indexDir: String): DataFrame = {
    val spark = routed.sparkSession
    val postingsDir = s"$indexDir/postings"
    val fs = new Path(postingsDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(postingsDir))) routed
    else {
      val cells = routed.select("cell").distinct().collect().map(_.get(0))
      routed.join(
        spark.read.parquet(postingsDir)
          .filter(col("cell").isin(cells.toIndexedSeq: _*))
          .select(col("vec_id"), col("cell")),
        Seq("vec_id", "cell"), "left_anti")
    }
  }

  /** Continuous ingest: `foreachBatch` over a (vec_id, embedding) stream. */
  def ingestStream(source: DataFrame, indexDir: String,
                   checkpointDir: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        applyBatch(b, indexDir); ()
      }
      .start()

  /** Per-batch drift telemetry — ROUTING AFFINITY, the IVF health
    * metric: for every cell the batch touches, the batch's mean cosine
    * to the stored centroid it routed to (`batch_affinity` — the argmax
    * cosine the router already computed) next to the same cell's mean
    * over its INDEXED postings (`index_affinity` — the cell's own
    * quantization baseline). A batch from the indexed distribution
    * scores at or above the baseline (its vectors route to their best
    * cell; indexed vectors sit at their assigned one); a shifted batch
    * scores below it because no stored centroid points its way. The
    * baseline makes the signal self-calibrating — an absolute
    * centroid-vs-centroid cosine threshold would need retuning per
    * corpus tightness. Rows are centroid-bounded; batch-sized work is
    * one aggregation, and the baseline scan partition-prunes to the
    * touched cells exactly like [[unseenOf]]'s dedup scan. */
  private[graft] def batchDrift(routed: DataFrame, indexDir: String): DataFrame = {
    val spark = routed.sparkSession
    val stored = spark.read.parquet(s"$indexDir/centroids")
    val batchAff = routed.join(broadcast(stored), "cell")
      .withColumn("c", Embeddings.cosine(col("emb"), col("cemb")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_batch"), round(avg("c"), 6).as("batch_affinity"))
    val cells = batchAff.select("cell").collect().map(_.get(0))
    // the baseline EXCLUDES the batch's own vec_ids: measured against a
    // baseline that already contains the (possibly drifted) batch, the
    // signal dilutes exactly when a batch dominates its cells — and the
    // anti-join also makes the telemetry replay-deterministic, since it
    // reads the same baseline whether or not the crashed attempt's
    // append landed
    val indexAff = spark.read.parquet(s"$indexDir/postings")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .join(routed.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(broadcast(stored), "cell")
      .withColumn("c", Embeddings.cosine(col("emb"), col("cemb")))
      .groupBy("cell").agg(round(avg("c"), 6).as("index_affinity"))
    // inner join: a cell whose postings are ONLY the batch's own vectors
    // has no baseline to calibrate against and drops from the trigger
    batchAff.join(indexAff, "cell")
      .select("cell", "n_batch", "batch_affinity", "index_affinity")
  }

  /** Full maintain-loop batch fold (VERDICT r4 item 8), closing the same
    * maintain-and-serve loop AggSink/MvRewrite close for aggregates:
    *
    *  1. route + idempotent append, exactly [[applyBatch]];
    *  2. drift telemetry written to `indexDir/drift/batch_id=<id>/`
    *     (overwrite per batch path — a replayed batch rewrites its own
    *     partition, so the log stays exactly-once);
    *  3. when the batch's weighted routing affinity falls below
    *     `driftThreshold` × the touched cells' own affinity baseline
    *     (see [[batchDrift]]), ONE refresh: [[Embeddings.kmeansTrain]]
    *     over the full postings at the index's existing cell count, then
    *     the index rebuilds wholesale and
    *     `indexDir/refresh/batch_id=<id>/` records the trigger.
    *
    * Replay-idempotence of the REFRESH: a replayed batch's vectors are
    * already in the postings, so the retrain input — and Lloyd's from
    * the deterministic seed — is byte-identical, and both log writes are
    * batch-path-keyed overwrites. Replays therefore converge to the
    * same index whether they re-trigger the refresh or (the common
    * case, because the rebuilt centroids now absorb the shift) skip it.
    * Crash INSIDE a rebuild can leave postings written against the old
    * centroid table until the replay re-runs it — the versioned store
    * ([[graft.mars.Incremental]] snapshots) is the production answer
    * when that window matters; the drift/refresh logs make the state
    * observable either way.
    *
    * Returns true iff this call refreshed the index. */
  def applyBatchMaintained(batch: DataFrame, batchId: Long, indexDir: String,
                           driftThreshold: Double = 0.9,
                           retrainIters: Int = 2): Boolean = {
    val spark = batch.sparkSession
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$indexDir/centroids")),
      s"no IVF index at $indexDir — build with Embeddings.buildIvfIndex")
    val routed = Embeddings.routeToIvfCells(spark, indexDir,
      batch.dropDuplicates("vec_id")).persist()
    try {
      Embeddings.appendRoutedToIvf(unseenOf(routed, indexDir), indexDir)
      // telemetry rows are centroid-bounded: collect ONCE (the same
      // driver posture as the routed cell list in unseenOf) and write
      // the collected rows back out — running the drift plan twice would
      // re-scan the pruned postings per micro-batch
      val drift = batchDrift(routed, indexDir)
      val rows = drift.collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq, 1), drift.schema)
        .write.mode("overwrite")
        .parquet(s"$indexDir/drift/batch_id=$batchId")
      val n = rows.map(_.getLong(1)).sum
      // trigger: batch routing affinity falls below driftThreshold × the
      // touched cells' own baseline (both batch-weighted)
      val triggered = n > 0 && {
        val batchAff = rows.map(r => r.getLong(1) * r.getDouble(2)).sum / n
        val indexAff = rows.map(r => r.getLong(1) * r.getDouble(3)).sum / n
        batchAff < driftThreshold * indexAff
      }
      if (triggered) refreshIndex(spark, indexDir, batchId, retrainIters)
      triggered
    } finally { routed.unpersist(); () }
  }

  /** Retrain centroids on the full postings (same cell count) and
    * rebuild the index wholesale; record the trigger batch. */
  private def refreshIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, batchId: Long,
                           iters: Int): Unit = {
    // materialize BEFORE the overwrite: the rebuild writes over the very
    // files this frame reads
    val posts = spark.read.parquet(s"$indexDir/postings")
      .select(col("vec_id"), col("emb").as("embedding"))
      .localCheckpoint()
    val k = spark.read.parquet(s"$indexDir/centroids").count().toInt
    val asg = Embeddings.kmeansTrain(posts, k, iters)
    Embeddings.buildIvfIndex(
      posts.join(asg, "vec_id")
        .select(col("vec_id"), col("cell").as("label"), col("embedding")),
      indexDir)
    import spark.implicits._
    Seq((k, iters)).toDF("n_cells", "iters").write.mode("overwrite")
      .parquet(s"$indexDir/refresh/batch_id=$batchId")
  }
}
