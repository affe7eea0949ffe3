package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.BlockedPairs
import graft.text.TextOps

/** Continuous NEAR-duplicate-free corpus ingestion: the streaming face of
  * the banded-LSH dedup family ([[CorpusIngest]] is its exact-hash
  * sibling). New documents are admitted only when no sufficiently-similar
  * document exists in the batch so far OR in the persisted corpus.
  *
  * Per micro-batch (foreachBatch):
  *   1. MinHash-sign each incoming doc (k components, k/2 banded pairs —
  *      the same `TextOps.minhashSignatures` the batch pipeline uses);
  *      docs too short to shingle have no signature and are admitted
  *      (nothing to compare — downstream exact dedup still guards them),
  *   2. batch-local near-dedup: candidate pairs share a band, similarity
  *      is the ESTIMATED jaccard (fraction of equal minhash components —
  *      the standard signature-space estimator, so the store never needs
  *      shingle sets), and the later doc_id of a >= threshold pair is
  *      dropped — the same dominated-by-earlier one-pass form semDedup
  *      uses, order-deterministic under replay,
  *   3. store probe: survivors' bands equi-join the persisted band table
  *      (at scale: bucketed by band, so the probe reads matching buckets
  *      only — the batch side is micro-batch-sized and broadcasts),
  *      candidates verify against the persisted signature table by
  *      doc_id, and any >= threshold match vetoes admission,
  *   4. admitted docs append to the corpus sink; their signatures and
  *      bands append to the store tables.
  *
  * Replay safety is [[CorpusIngest]]'s applied-marker contract: a
  * replayed batch id is a no-op; the crash window between append and
  * marker can duplicate into the corpus SINK only, never past the store
  * probe into later batches.
  *
  * Store sizing at 100 TB: signatures are k longs per document and bands
  * k/2 16-byte keys — ~100 bytes/doc, three orders of magnitude under
  * the text; the probe join ships signatures, never documents. */
object NearDupIngest {

  /** Apply one batch; returns (admitted, rejectedAsNearDup). Idempotent
    * per batchId. */
  def applyBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                 storeDir: String, k: Int = 8,
                 threshold: Double = 0.5): (Long, Long) = {
    val spark = batch.sparkSession
    val marker = s"$storeDir/_applied/batch-$batchId"
    if (StoreFs.exists(spark, marker)) return (0L, 0L)
    val nb = k / 2

    val sigs = TextOps.minhashSignatures(batch, k).localCheckpoint(true)
    val signed = sigs.filter(col("mh_0").isNotNull)
    val unsigned = sigs.filter(col("mh_0").isNull).select("doc_id")

    def estJaccard: Column =
      (0 until k).map(i => (col(s"mh_${i}_a") === col(s"mh_${i}_b")).cast("int"))
        .reduce(_ + _).cast("double") / k

    def bandsOf(df: DataFrame, carry: Seq[String] = Nil): DataFrame =
      df.select(("doc_id" +: carry).map(col) :+
        explode(array((0 until nb).map(b => col(s"band_$b")): _*)).as("band"): _*)

    // 2. batch-local: drop the LATER member of any candidate pair whose
    // estimated jaccard clears the threshold — scored inside the band
    // join, where the signatures ride along
    val mhs = (0 until k).map(i => s"mh_$i")
    val localPairs = BlockedPairs(bandsOf(signed, mhs), "doc_id", Seq("band"), mhs,
      scores = Seq("est_jaccard" -> estJaccard), keep = Some(col("est_jaccard") >= threshold))
    val localSurvivors = signed.join(
      localPairs.select(col("doc_id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

    // 3. store probe: any persisted near-dup vetoes admission
    val bandStore = s"$storeDir/bands"
    val sigStore = s"$storeDir/sigs"
    val admittedSigned =
      if (StoreFs.exists(spark, bandStore)) {
        val storedBands = spark.read.parquet(bandStore)
        val storedSigs = spark.read.parquet(sigStore)
        val candidates = bandsOf(localSurvivors)
          .join(storedBands.withColumnRenamed("doc_id", "b_id"), "band")
          .select(col("doc_id").as("a_id"), col("b_id")).distinct()
        val vetoed = candidates
          .join(localSurvivors.select(
            col("doc_id").as("a_id") +:
              (0 until k).map(i => col(s"mh_$i").as(s"mh_${i}_a")): _*), "a_id")
          .join(storedSigs.select(
            col("doc_id").as("b_id") +:
              (0 until k).map(i => col(s"mh_$i").as(s"mh_${i}_b")): _*), "b_id")
          .filter(BlockedPairs.round6(estJaccard) >= threshold)
          .select(col("a_id").as("doc_id")).distinct()
        localSurvivors.join(vetoed, Seq("doc_id"), "left_anti")
      } else localSurvivors

    val admittedIds = admittedSigned.select("doc_id")
      .unionByName(unsigned).localCheckpoint(true)
    val nAdmitted = admittedIds.count()
    val nTotal = batch.select("doc_id").distinct().count()

    if (nAdmitted > 0) {
      batch.join(admittedIds, "doc_id")
        .write.mode(SaveMode.Append).parquet(s"$corpusDir/documents")
      admittedSigned.select(col("doc_id") +:
          (0 until k).map(i => col(s"mh_$i")): _*)
        .write.mode(SaveMode.Append).parquet(sigStore)
      bandsOf(admittedSigned)
        .write.mode(SaveMode.Append).parquet(bandStore)
    }
    StoreFs.touch(spark, marker)
    (nAdmitted, nTotal - nAdmitted)
  }

  /** Wire a streaming document source into the near-dup-free corpus. */
  def stream(docs: DataFrame, corpusDir: String, storeDir: String,
             checkpointDir: String, k: Int = 8,
             threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, corpusDir, storeDir, k, threshold); ()
      }
      .start()
}
