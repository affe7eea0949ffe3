package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{Embeddings, IvfLifecycle}

/** [[IvfLifecycle]] — drift-triggered IVF refresh with atomic versioned
  * publication (VERDICT r9 #8). The done-conditions, each pinned here:
  * searches during a rebuild see exactly one version (the pinned-path
  * contract); post-swap searches use the new centroids; a batch
  * replayed across the swap routes every vector to the cell it is
  * stored in (the stored-cell ≡ flat-routing invariant the rebuild's
  * final flat re-route re-establishes by construction).
  */
class IvfLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unit(c: Int): Array[Float] =
    Array.tabulate(4)(d => if (d == c) 1.0f else 0.0f)

  /** Direction in the e2–e3 plane (orthogonal to both seed centroids,
    * so routing tie-breaks every such vector into cell 0 — maximal
    * staleness for cell 0's stored centroid). Varying `tilt` keeps the
    * family mutually below a 0.999 dup threshold. */
  private def plane23(tilt: Float): Array[Float] = {
    val v = Array(0.0f, 0.0f, 1.0f, tilt)
    val n = math.sqrt(1.0 + tilt * tilt).toFloat
    v.map(_ / n)
  }

  test("versioned publish, pinned readers, drift-triggered refresh, replay across the swap") {
    val root = Files.createTempDirectory("ivf_lifecycle").toString + "/index"
    // v1: two orthogonal single-vector cells
    val seed = Seq((0L, unit(0), 0), (1L, unit(1), 1))
      .toDF("vec_id", "embedding", "label")
    IvfLifecycle.init(spark, root, seed)
    assert(IvfLifecycle.currentVersion(spark, root) === 1)
    assert(IvfLifecycle.publishedVersions(spark, root) === Seq(1))
    // fresh index: stored centroids ARE the cell means — drift 0, no-op
    assert(IvfLifecycle.indexDrift(spark, IvfLifecycle.current(spark, root))
      === 0.0)
    assert(IvfLifecycle.maintain(spark, root, driftThreshold = 0.2) === None)
    assert(IvfLifecycle.currentVersion(spark, root) === 1)

    // ingest drift: 10 distinct e2/e3-plane directions are appended; all
    // tie-route into cell 0 (cos 0 to both centroids), so cell 0's
    // stored routing centroid no longer describes its content
    val pinned = IvfLifecycle.current(spark, root)
    val batch = (0 until 10).map(i => (10L + i, plane23(0.1f * (i + 1))))
      .toDF("vec_id", "embedding")
    Embeddings.appendToIvfIndex(spark, pinned, batch)
    val driftBefore = IvfLifecycle.indexDrift(spark, pinned)
    assert(driftBefore > 0.2, s"ingest should have made the index stale: $driftBefore")

    // a reader pins v1 and reads; the swap must not perturb it
    def search(dir: String) = Embeddings.searchIvfIndex(spark, dir,
      col("vec_id") === 0L, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    val preSwap = search(pinned)
    assert(preSwap.nonEmpty)

    val swapped = IvfLifecycle.maintain(spark, root, driftThreshold = 0.2)
    assert(swapped === Some(2))
    assert(IvfLifecycle.currentVersion(spark, root) === 2)
    // pinned reader: exactly one version, before and after the swap
    assert(search(pinned) === preSwap,
      "a pinned reader must see its version untouched by the swap")
    // post-swap resolves use the NEW centroids (retrained — more cells
    // than the two stale ones, and the refreshed index is less stale)
    val live = IvfLifecycle.current(spark, root)
    assert(live !== pinned)
    val newCents = spark.read.parquet(s"$live/centroids").count()
    assert(newCents > 2L, s"retrain should have re-derived cells, got $newCents")
    val driftAfter = IvfLifecycle.indexDrift(spark, live)
    assert(driftAfter < driftBefore,
      s"refresh must reduce staleness: $driftAfter !< $driftBefore")
    // every stored vector survived the rebuild, exactly once
    val stored = spark.read.parquet(s"$live/postings")
    assert(stored.count() === 12L)
    assert(stored.select("vec_id").distinct().count() === 12L)

    // REPLAY ACROSS THE SWAP: the rebuild's final routeToCells re-route
    // stores every vector where a replay of its batch routes it, so a
    // cell-scoped probe of the replay finds each stored twin
    assert(routingGapCount(live) === 0L)

    // vacuum retires v1 once no reader is pinned to it
    assert(IvfLifecycle.vacuum(spark, root, keep = 1) === Seq(1))
    assert(IvfLifecycle.publishedVersions(spark, root) === Seq(2))
    assert(!new java.io.File(pinned).exists())
  }

  /** The stored-cell ≡ flat-routing invariant, asserted directly over a
    * published index's postings: every stored (vec_id, cell) equals the
    * flat [[Embeddings.routeToCells]] of the stored vector against the
    * stored centroid table. */
  private def routingGapCount(dir: String): Long = {
    val post = spark.read.parquet(s"$dir/postings")
    val rerouted = Embeddings.routeToCells(
      post.select(col("vec_id"), col("emb").as("embedding")),
      spark.read.parquet(s"$dir/centroids"))
      .select(col("vec_id"), col("cell").as("rcell"))
    post.select(col("vec_id"), col("cell").cast("int").as("cell"))
      .join(rerouted, "vec_id")
      .filter(col("cell") =!= col("rcell").cast("int")).count()
  }

  test("route-and-build at init: an exact-replica batch admits ZERO (the r10 ingest-bench batch-0 scenario)") {
    // The BENCH_SEMDEDUP_INGEST batch-0 mechanism in miniature: labels
    // that disagree with flat routing for one boundary vector — vector
    // `a` carries label 0 (the trained-assignment stand-in), but against
    // the label-derived centroids it flat-routes to cell 1
    // (cos(a, c1) ≈ 0.9986 > cos(a, c0) ≈ 0.7071). An exact replica of
    // a stored vector probes the cell it flat-routes to, so it misses its
    // twin — and is admitted as false novelty — exactly when the twin is
    // stored elsewhere: the routing-gap count is the admission count of
    // an exact-replica batch.
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),  // a: label 0, flat-routes to 1
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),  // b: label 0, flat-routes to 0
      (2L, Array(0.95f, 0.05f, 0.0f, 0.0f), 1) // d: label 1 (its own cell)
    ).toDF("vec_id", "embedding", "label")

    // the verbatim-label build REPRODUCES the gap: a's stored twin sits
    // in trained-label cell 0, the replica probes flat cell 1, misses
    // it, and is admitted as false novelty — the r10 bench's 83 admits
    val legacy = Files.createTempDirectory("ivf_legacy").toString + "/index"
    Embeddings.buildIvfIndex(labeled, legacy)
    assert(routingGapCount(legacy) === 1L,
      "the crafted corpus must carry exactly one label/routing disagreement")

    // the ROUTED build through lifecycle init: stored cell = flat
    // routing from birth, so every replica finds its twin — zero admits
    val root = Files.createTempDirectory("ivf_routed").toString + "/index"
    IvfLifecycle.init(spark, root, labeled)
    val live = IvfLifecycle.current(spark, root)
    assert(routingGapCount(live) === 0L,
      "route-and-build must store every vector in its flat routing cell")
  }

  test("route-and-build at init: REAL two-level trained labels carry no routing gap") {
    // the actual bench shape, miniaturized: a clustered corpus labeled
    // by the two-level trained assignment (kmeansCells with coarse
    // routing — the assignment whose boundary disagreements the r10
    // bench measured at 0.4%), then lifecycle-init. The invariant is
    // asserted DIRECTLY (stored cell = flat re-route for every row), so
    // a gap cannot hide behind a lucky same-cell neighbor veto.
    val rnd = new scala.util.Random(41)
    val dirs = Array.tabulate(8, 8)((c, d) => if (d == c) 1.0f else 0.0f)
    val corpus = (0 until 240).map { i =>
      val base = dirs(i % 8)
      (i.toLong, base.map(_ + (rnd.nextFloat() - 0.5f) * 0.4f))
    }.toDF("vec_id", "embedding")
    val trained = Embeddings.kmeansCells(corpus, nCells = 8, nCoarse = 2)
    val labeled = corpus.join(trained, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell").as("label"))

    val root = Files.createTempDirectory("ivf_trained").toString + "/index"
    IvfLifecycle.init(spark, root, labeled)
    val live = IvfLifecycle.current(spark, root)
    assert(routingGapCount(live) === 0L,
      "trained-label init must store every vector in its flat routing cell")
  }
}
