package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.BlockedPairs
import graft.ops.BlockedPairs.round6

/** Similarity search over an `Array[Float]` embedding column.
  *
  * All vector math is higher-order Column expressions (`zip_with` +
  * `aggregate`) in DOUBLE precision — codegen-friendly, no UDF, and the
  * sequential left-fold accumulation order is deterministic and identical
  * to the oracle's list_dot_product, so cosine values match bit-for-bit
  * before rounding.
  *
  * Scale design:
  *  - brute-force top-k: the query set is broadcast; the corpus side
  *    streams through a BroadcastNestedLoopJoin with no shuffle of the big
  *    side; per-query top-k is a windowed row_number over (query) — a
  *    k-bounded partial aggregation would replace it beyond ~1e9 rows.
  *  - IVF: coarse cells (here the existing cluster labels; k-means
  *    centroids in a real build) → centroid table is tiny and broadcast;
  *    a query probes only its nearest cell, cutting the scan by the cell
  *    count. This is the standard ANN recall/latency trade.
  */
object Embeddings {

  /** float[] → double[] (must happen before any arithmetic: float
    * accumulation is engine-dependent, double is exact parity). */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Dot product via the native codegen'd [[graft.functions.VecDot]]
    * expression (register with GraftFunctions.register / GraftExtensions).
    * Accumulates left-to-right like [[dotPortable]], so values are
    * bit-identical — swapping implementations never moves an oracle. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Built-ins-only composition of the same fold (interpreted HOFs);
    * kept as the portability reference and for spec cross-checking. */
  def dotPortable(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Packed-int8 vector (BINARY) via the native codegen'd
    * [[graft.functions.I8Pack]] — the narrowest wire format (64 bytes
    * per 64-dim vector through an exchange vs ~528 for the double
    * array). For PER-PAIR hot loops prefer [[i8PackL]]: BINARY access
    * copies per read, ARRAY<LONG> reads as a view. */
  def i8Pack(q: Column): Column = call_function("i8_pack", q)

  /** Exact integer dot over two packed-int8 vectors
    * ([[graft.functions.VecDotI8]]): long arithmetic, no float
    * accumulation order to disagree on across engines. */
  def dotI8(a: Column, b: Column): Column = call_function("vec_dot_i8", a, b)

  /** Long-word packed int8 vector ([[graft.functions.I8PackL]], 8 bytes
    * per long): ~80 B per 64-dim vector in an UnsafeRow — 6× narrower
    * than the double array — and read as a VIEW, so a join condition
    * evaluating the dot per candidate pair allocates nothing. */
  def i8PackL(q: Column): Column = call_function("i8_pack_l", q)

  /** Exact integer dot over two [[i8PackL]]-packed vectors
    * ([[graft.functions.VecDotI8L]]). */
  def dotI8L(a: Column, b: Column): Column = call_function("vec_dot_i8_l", a, b)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine with the norms hoisted out: inside a pair join, norm(v) is a
    * per-vector quantity — computing it per PAIR multiplies the vector
    * passes by the pair fan-out. Callers precompute a norm column per side
    * (identical fold, so values are bit-identical to cosine()). */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Exact brute-force cosine top-k for the query vectors against the
    * whole corpus (minus self-matches). */
  def knnBruteForce(embeddings: DataFrame, queryFilter: Column, k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("vnorm").as("qnorm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("knn_rank"))
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most similar vectors whose LABEL differs from the query's — the
    * pairs a contrastive/embedding trainer wants as negatives precisely
    * because they're near misses. Same bounded shape as
    * [[knnBruteForce]]: the query side (with its labels) is broadcast,
    * the corpus streams through the scoring join once, and the label
    * mismatch is part of the join condition so same-label rows never
    * reach the window. Swap the corpus frame for an ANN candidate frame
    * to mine at 100 TB without the exact scan. */
  def hardNegatives(embeddings: DataFrame, queryFilter: Column, k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("emb").as("qemb"), col("vnorm").as("qnorm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q), col("label") =!= col("qlabel"))
      .withColumn("cos",
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("qlabel"), col("vec_id").as("neighbor_id"),
        col("label"), round(col("cos"), 6).as("cosine"), col("neg_rank"))
  }

  /** Contrastive training triplets (anchor, positive, hard negative) —
    * the data-construction step for embedding fine-tuning (Schroff et
    * al. FaceNet CVPR'15 semi-hard mining, InfoNCE batch construction):
    * per anchor, the most similar SAME-label vector is the positive and
    * the most similar CROSS-label vector is the hard negative; margin =
    * pos − neg is the per-anchor difficulty signal (negative margin ⇒
    * the anchor currently violates the ranking the training must fix).
    * ONE broadcast-query scan scores every candidate once; both picks
    * are rank-1 rows of the same scored frame under a (query, same?)
    * window, so no second pass over the corpus. Bounded by the anchor
    * set like every kNN op here. */
  def trainingTriplets(embeddings: DataFrame, queryFilter: Column): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("emb").as("qemb"), col("vnorm").as("qnorm"))
    val w = Window.partitionBy("query_id", "same")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val best = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("same", col("label") === col("qlabel"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    best.groupBy("query_id")
      .agg(
        max(when(col("same"), col("vec_id"))).as("positive_id"),
        max(when(col("same"), round(col("cos"), 6))).as("pos_cos"),
        max(when(!col("same"), col("vec_id"))).as("negative_id"),
        max(when(!col("same"), round(col("cos"), 6))).as("neg_cos"))
      .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
  }

  /** Matryoshka (MRL) two-stage search: score every candidate on the
    * PREFIX of the embedding first (matryoshka-trained models concentrate
    * meaning in the leading dims), keep `candidates` per query, rerank
    * only those with the full vector. FLOPs per scanned pair drop by
    * dims/prefixDims (64→16 here = 4×) while the full-precision math
    * touches only `candidates` rows per query. In a production layout the
    * prefix slice is a separate narrow column/index so the stage-1 scan
    * reads prefixDims·4 bytes per vector, not the full vector — expressed
    * here as a slice of the same column to keep one table contract. Same
    * deliberate broadcast-query-set join as [[knnBruteForce]]
    * (PlanAuditSpec-whitelisted); the rerank is a row_number window over
    * candidates·queries rows, which the candidate cap bounds. */
  def mrlSearch(embeddings: DataFrame, queryFilter: Column,
                prefixDims: Int = 16, candidates: Int = 50,
                k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("pemb", slice(col("emb"), 1, prefixDims))
      .withColumn("vnorm", norm(col("emb")))
      .withColumn("pnorm", norm(col("pemb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("pemb").as("qpemb"), col("vnorm").as("qnorm"),
        col("pnorm").as("qpnorm"))
    val stage1 = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("pcos",
        cosinePre(col("qpemb"), col("pemb"), col("qpnorm"), col("pnorm")))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("vec_id").asc)
    val cand = stage1.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= candidates)
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .withColumn("cos",
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("mrl_rank", row_number().over(w2))
      .filter(col("mrl_rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("mrl_rank"))
  }

  /** [[knnBruteForce]] semantics through the k-bounded native
    * `topk_by` aggregate ([[graft.functions.TopKByScore]]) instead of a
    * window, the [[graft.text.TextOps.hashedKnn]] shape: the partial
    * aggregation keeps at most k neighbors per query per partition, so
    * the exchange ships k rows per query instead of the full candidate
    * set, and nothing is sorted beyond k. Identical output: the order is
    * the window's (cosine desc, neighbor_id asc), ranked on the
    * unrounded cosine and rounded after. */
  def knnTopKAgg(embeddings: DataFrame, queryFilter: Column, k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("vnorm").as("qnorm"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(call_function("topk_by", col("vec_id"),
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")),
        lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "n")))
      .select(col("query_id"), col("n.id").as("neighbor_id"),
        round(col("n.score"), 6).as("cosine"),
        (col("p") + 1).cast("int").as("knn_rank"))
  }

  /** Per-cell mean centroid via the native [[graft.functions.VecAvg]]
    * aggregate: per-dim (sum, count) partials combined map-side, ONE
    * |cells|-row exchange. Replaces the r1–r11 posexplode → (cell, idx)
    * avg → collect_list/array_sort shape, which generated dims× the
    * corpus row count before its first aggregate and paid two exchanges
    * per centroid pass (r12, guide §2.3) — per-dim sums/merge structure
    * and the final sum/count division are identical, so values (and the
    * oracle hashes downstream of them) are unmoved. */
  def centroids(embeddings: DataFrame, cellCol: String = "label"): DataFrame =
    embeddings
      .groupBy(col(cellCol).as("cell"))
      .agg(call_function("vec_avg", asDouble(col("embedding"))).as("cemb"))

  /** IVF-style ANN: route each query to its `nprobe` nearest centroids,
    * then exact top-k within those cells only. nprobe is the standard
    * recall/latency knob — scanned fraction ≈ nprobe / |cells|. */
  def ivfSearch(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
                nprobe: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label").as("cell"),
      asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("vnorm").as("qnorm"))
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    ivfProbes(q, centroids(embeddings), nprobe, keep = Seq("qemb", "qnorm"))
      .join(e, col("probe_cell") === col("cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("knn_rank", row_number().over(wK))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("probe_cell"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("knn_rank"))
  }

  /** One k-means refinement step: re-assign every vector to its
    * nearest (cosine) centroid; `moved` flags the vectors whose cell
    * changed. Centroids rebuilt from the new assignment complete one
    * Lloyd round.
    *
    * The argmax is the `cell_argmax` scan of [[exhaustiveAssign]],
    * carrying `old_cell` through: one broadcast one-row centroid array,
    * no window and no re-group exchange over the scored corpus. Ties
    * break to the lowest cell id, deterministically in any engine. */
  def kmeansAssign(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label").as("old_cell"),
      asDouble(col("embedding")).as("emb"))
    exhaustiveAssign(e, centroids(embeddings), keep = Seq("old_cell"))
      .select(col("vec_id"), col("old_cell"), col("cell").as("new_cell"),
        (col("old_cell") =!= col("cell")).cast("int").as("moved"))
  }

  /** Embedding-cosine near-duplicate pairs, blocked by the coarse cell
    * (IVF blocking): the quadratic pair join runs only within a cell, so
    * total cost is Σ|cell|² not N². At 100 TB the cell would come from
    * k-means or a random-hyperplane LSH sign-bucket over the vectors;
    * here the corpus ships with cluster labels, the same shape. */
  def cosineNearDup(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    BlockedPairs(cellVectors(embeddings), "vec_id", Seq("cell"), Seq("emb", "vnorm"),
        scores = Seq("cosine" -> pairCosine), withKeys = true,
        keep = Some(col("cosine") >= threshold))
      .select("cell", "vec_id_a", "vec_id_b", "cosine")
  }

  /** (cell, vec_id, emb, vnorm) with the corpus label as the cell. */
  private def cellVectors(embeddings: DataFrame): DataFrame =
    embeddings.select(col("label").as("cell"), col("vec_id"),
      asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))

  /** Cosine of a [[BlockedPairs]] pair over suffixed (emb, vnorm). */
  private def pairCosine: Column =
    cosinePre(col("emb_a"), col("emb_b"), col("vnorm_a"), col("vnorm_b"))

  /** Within-cell pairwise-cosine HISTOGRAM — the distribution diagnostic
    * that picks near-dup / SemDeDup thresholds from measured data instead
    * of folklore (run it before committing a threshold; the near-dup mass
    * is the right-tail bump). Pair generation is the same cell-blocked
    * Σ|cell|² join as [[cosineNearDup]] (cell count is the scale knob; at
    * 100 TB the cells come from [[kmeansCells]] so k grows ∝ N), but the
    * OUTPUT is |bins|-sized, so this is the cheap way to look at pair
    * structure without materializing a pair list. bin = floor(cosine·10)
    * over the 6dp-rounded cosine, so boundary pairs land in the same bin
    * in any engine; fractions attach via a 1-row broadcast total. */
  def cosineHistogram(embeddings: DataFrame): DataFrame = {
    val binned = BlockedPairs(cellVectors(embeddings), "vec_id", Seq("cell"),
        Seq("emb", "vnorm"), scores = Seq("cosine" -> pairCosine))
      .withColumn("bin", floor(col("cosine") * 10).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val tot = binned.agg(sum("n_pairs").as("total"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), round(col("bin") / 10.0, 1).as("bin_lo"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("total").cast("double"), 6)
          .as("frac"))
  }

  /** The Lloyd ASSIGN pass, factored once: argmax-assign every vector of
    * `e` (vec_id, emb) to its nearest (cosine) centroid of `cents`
    * (cell, cemb), returning (vec_id, cell, ccos) where ccos is the
    * winning cosine. Always argmax WITHOUT a window (the `cell_argmax`
    * scan of [[cellArgmax]], ties to the lowest cell id).
    *
    * `nCoarse <= 1` is the exhaustive single-level scan — N·|cells|
    * distance evaluations, BIT-IDENTICAL to the historical plan. With
    * occupancy-held cells (|cells| ∝ N, [[graft.ops.ScaleKnobs.kmeansCells]])
    * that is quadratic-class, the one scale-killer the sf1→sf10 decade
    * named; `nCoarse > 1` bounds it the way IVF builders do: the
    * centroids are THEMSELVES grouped into nCoarse coarse groups (one
    * [[kmeansCells]] pass over the |cells|-row centroid table — |cells|·
    * nCoarse work), each vector scans the nCoarse coarse centroids and
    * then only its winning group's ~|cells|/nCoarse member cells, so
    * the pass is N·(nCoarse + |cells|/nCoarse) ≈ 2·N·√cells at
    * nCoarse = isqrt(cells) ([[graft.ops.ScaleKnobs.kmeansCoarse]] —
    * floored to 1 below 256 cells, which pins every oracle sf to the
    * exhaustive plan). Two-level routing is the standard coarse-quantizer
    * APPROXIMATION: a vector whose true nearest cell sits in a losing
    * coarse group lands in its group-local best instead — acceptable for
    * a clustering that exists to bound pair work, and off (nCoarse=1)
    * below the floor. Both candidate tables broadcast at the scales this
    * library measures (|cells| rows); past broadcast range the stage-2
    * join keys by coarse_id and stays narrow. */
  def assignToCells(e: DataFrame, cents: DataFrame, nCoarse: Int = 1,
                    nCoarse2: Int = 1,
                    coarseFloor: Int = graft.ops.ScaleKnobs.CoarseFloorCells,
                    threeLevelFloor: Int =
                      graft.ops.ScaleKnobs.ThreeLevelFloorCells): DataFrame = {
    if (nCoarse <= 1) {
      exhaustiveAssign(e, cents)
    } else {
      // the centroid table is itself an aggregation over the corpus and
      // feeds several consumers below (coarse seed, coarse means,
      // candidate attach) — materialize it once (|cells| rows; without
      // this the corpus-wide centroid aggregation re-executes per use)
      val c = cents.localCheckpoint()
      // re-derive the routing shape from the table ACTUALLY being
      // routed over, never wider/deeper than the caller's corpus-derived
      // hint (r8): Lloyd training COLLAPSES cells on low-diversity
      // corpora (sf100emb: 16000 requested → 938 surviving centroids),
      // and a hierarchy sized to the REQUEST over-layers the collapsed
      // table — each routing level is a full-corpus exchange carrying
      // the embedding, and levels that no longer prune candidates buy
      // nothing for that price (measured 3-4× slower on the trained
      // final assign at sf100emb). |c| is deterministic (assignments
      // are), so plans stay partitioning-invariant; every oracle sf
      // resolves to nCoarse = 1 before this branch and is untouched.
      val mi = math.min(c.count(), Int.MaxValue.toLong).toInt
      val k1 = math.min(nCoarse,
        graft.ops.ScaleKnobs.kmeansCoarse(mi, coarseFloor, threeLevelFloor))
      val k2 = math.min(nCoarse2,
        graft.ops.ScaleKnobs.kmeansCoarse2(mi, threeLevelFloor))
      if (k1 <= 1) exhaustiveAssign(e, c)
      else routedAssign(e, c, k1, k2)
    }
  }

  /** One-row collected centroid table: the broadcastable argument of
    * [[cellArgmax]]. |cells| × dims doubles in a single array — bounded
    * by the routing floors (exhaustive assigns stop at
    * [[graft.ops.ScaleKnobs.CoarseFloorCells]] cells; the routed levels
    * are √cells / ∛cells wide), so the row stays well under broadcast
    * range at every scale this library measures. */
  private def centsArray(cents: DataFrame, cellCol: String,
                         embCol: String): DataFrame =
    cents.agg(collect_list(struct(col(cellCol).as("cell"),
      col(embCol).as("cemb"))).as("cents"))

  /** `cell_argmax(emb, cents)` — the codegen'd per-row nearest-centroid
    * scan ([[graft.functions.CellArgmax]]): max cosine, ties to the
    * lowest cell id, NULL on an empty table. Bit-identical to the
    * historical `crossJoin(broadcast) → max(struct(cos, -cell))` plan
    * while removing the N×|cells| row blowout AND the full-corpus
    * re-group Exchange per assign — at 100 TB, one fewer corpus shuffle
    * per Lloyd iteration / routing level (r12, guide §2.4). */
  private def cellArgmax(emb: Column, cents: Column): Column =
    call_function("cell_argmax", emb, cents)

  /** The one-level assign: every row of `e` (vec_id, emb, `keep`…)
    * argmax-scans the whole broadcast centroid array, returning
    * (vec_id, `keep`…, cell, ccos) — the one nearest-centroid argmax of
    * [[kmeansAssign]] and the exhaustive Lloyd pass. */
  private def exhaustiveAssign(e: DataFrame, cents: DataFrame,
                               keep: Seq[String] = Nil): DataFrame = {
    val carried = col("vec_id") +: keep.map(col)
    e.crossJoin(broadcast(centsArray(cents, "cell", "cemb")))
      .select(carried :+ cellArgmax(col("emb"), col("cents")).as("m"): _*)
      .filter(col("m").isNotNull)
      .select(carried ++ Seq(col("m.cell").as("cell"), col("m.ccos").as("ccos")): _*)
  }

  /** The routed (2- or 3-level) assign over a checkpointed centroid
    * table `c`, with EFFECTIVE level widths k1 (mid) / k2 (top). */
  private def routedAssign(e: DataFrame, c: DataFrame,
                           nCoarse: Int, nCoarse2: Int): DataFrame = {
      // group the centroids themselves: one seed+refine pass over the
      // |cells|-row table. With a third level on, THIS pass routes
      // two-level itself (|cells|·2·√nCoarse, not |cells|·nCoarse —
      // the next quadratic-class path otherwise, since nCoarse grows
      // to cells^(2/3) in the three-level regime)
      val cellCoarse = kmeansCells(
        c.select(col("cell").as("vec_id"), col("cemb").as("embedding")),
        nCoarse, nCoarse = if (nCoarse2 > 1) nCoarse2 else 1)
        .select(col("vec_id"), col("cell")).toDF("cell", "coarse_id")
        .localCheckpoint()
      // coarse centroid = mean of member cell centroids; derived FROM the
      // mapping, so only non-empty coarse groups exist (a vector can
      // never route to a group with no candidate cells)
      val coarseCents = centroids(
        c.join(cellCoarse, "cell")
          .select(col("coarse_id").as("label"), col("cemb").as("embedding")))
        .select(col("cell").as("coarse_id"), col("cemb").as("coarse_emb"))
      // every routing level is a per-row cell_argmax scan of a collected
      // (one-row or per-group) centroid array — the corpus crosses ZERO
      // exchanges on the whole routed assign (r12; the r11 shape paid
      // one full-corpus exchange per level for the re-group argmax, and
      // before that a corpus-side shuffle JOIN measured SLOWER than
      // exhaustive at sf10). Argmax/tie rule identical at every level.
      val routed =
        if (nCoarse2 <= 1) {
          // two-level: score all nCoarse mid centroids directly
          e.crossJoin(broadcast(
              centsArray(coarseCents, "coarse_id", "coarse_emb")))
            .select(col("vec_id"), col("emb"),
              cellArgmax(col("emb"), col("cents")).getField("cell")
                .as("coarse_id"))
            .filter(col("coarse_id").isNotNull)
        } else {
          // THREE-level (r8): group the nCoarse mid centroids into
          // nCoarse2 top groups (exhaustive on the nCoarse-row table —
          // c2·c1 work, trivial), then route each vector top-first:
          // score c1 top centroids, then only the winning top group's
          // ~c2/c1 mid centroids — c1 + c2/c1 ≈ 2·∛cells per vector
          // for this stage, with the final stage adding cells/c2 ≈
          // ∛cells. Same argmax/tie rule at every level.
          val l2 = coarseCents.localCheckpoint()
          val l2Top = kmeansCells(
            l2.select(col("coarse_id").as("vec_id"),
              col("coarse_emb").as("embedding")), nCoarse2)
            .select(col("vec_id"), col("cell")).toDF("coarse_id", "l1_id")
            .localCheckpoint()
          val l1Cents = centroids(
            l2.join(l2Top, "coarse_id")
              .select(col("l1_id").as("label"), col("coarse_emb").as("embedding")))
            .select(col("cell").as("l1_id"), col("cemb").as("l1_emb"))
          val routedTop = e.crossJoin(broadcast(
              centsArray(l1Cents, "l1_id", "l1_emb")))
            .select(col("vec_id"), col("emb"),
              cellArgmax(col("emb"), col("cents")).getField("cell")
                .as("l1_id"))
            .filter(col("l1_id").isNotNull)
          val midArr = l2.join(l2Top, "coarse_id")
            .groupBy("l1_id")
            .agg(collect_list(struct(col("coarse_id").as("cell"),
              col("coarse_emb").as("cemb"))).as("cents"))
          routedTop.join(broadcast(midArr), "l1_id")
            .select(col("vec_id"), col("emb"),
              cellArgmax(col("emb"), col("cents")).getField("cell")
                .as("coarse_id"))
        }
      // BHJ on the winning group: each vector picks up its group's
      // collected candidate-cell array in place and argmax-scans it —
      // no fan-out rows, no re-group exchange
      val candArr = c.join(cellCoarse, "cell")
        .groupBy("coarse_id")
        .agg(collect_list(struct(col("cell"), col("cemb"))).as("cents"))
      routed.join(broadcast(candArr), "coarse_id")
        .select(col("vec_id"), cellArgmax(col("emb"), col("cents")).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"), col("m.ccos").as("ccos"))
  }

  /** Deterministic k-means cell derivation with a CONFIGURABLE cell
    * count — the scale mechanism [[semDedup]] needs. Within-cell pair
    * work is Σ|cell|², so at 100 TB the cell count must grow ∝ N; a cell
    * inherited from a fixed data label pins k at a constant and the pair
    * join degrades toward O(N²/k). Init is deterministic and
    * engine-portable (seed group = vec_id mod k), followed by one Lloyd
    * assignment step against the seed-group means via [[assignToCells]]
    * (`cell_argmax`, ties to the lowest cell id; `nCoarse > 1` routes
    * the step two-level). Feed the output back
    * through [[centroids]] + reassignment for more Lloyd steps when the
    * partition needs polishing. */
  def kmeansCells(embeddings: DataFrame, nCells: Int, nCoarse: Int = 1,
                  nCoarse2: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val cents = centroids(
      e.select(pmod(col("vec_id"), lit(nCells.toLong)).as("label"),
        col("emb").as("embedding")))
    assignToCells(e, cents, nCoarse, nCoarse2).select("vec_id", "cell")
  }

  /** Full Lloyd's k-means from the same deterministic seed as
    * [[kmeansCells]] — the training loop behind every IVF/PQ/SemDeDup
    * cell in this library, expressed as the iterative-ML shape Spark
    * does well: per round, ONE |cells|×dims centroid aggregation over
    * the corpus and ONE broadcast `cell_argmax` re-assignment (never a
    * window over the scored corpus). The assignment frame carried
    * between rounds is narrow (vec_id, cell, ccos) and
    * localCheckpoint'd ([[lloydRounds]]), so lineage stays flat and
    * per-round driver traffic is zero — iteration count is the only
    * sequential element, exactly like [[graft.text.TextOps.bpeTrain]].
    * Ties break to the lowest cell id, deterministically in any engine.
    *
    * Returns the final assignment (vec_id, cell). `iters = 1` is
    * [[kmeansCells]]; the registered query unrolls the same loop into a
    * DuckDB CTE chain (TrainingOps.duckKmeansChain) so the trained
    * partition is hash-checked cross-engine. */
  def kmeansTrain(embeddings: DataFrame, nCells: Int, iters: Int): DataFrame =
    kmeansTrainSampled(embeddings, nCells, iters, sampleMod = 1, nCoarse = 1)

  /** [[kmeansTrain]] with the two scale bounds the sf1→sf10 decade
    * prescribed (occupancy-held cells make the exhaustive assign
    * N·cells ∝ N² per iteration):
    *
    *  - `sampleMod > 1`: the Lloyd ITERATIONS run on the deterministic
    *    hash-sample `vec_id ≡ 0 (mod sampleMod)` — sized ∝ cells by
    *    [[graft.ops.ScaleKnobs.kmeansSampleMod]] (~32/cell), the
    *    standard "train the quantizer on a sample" IVF build — and the
    *    full corpus is touched by exactly ONE final assign pass against
    *    the sample-trained centroids (rebuilt from the final sample
    *    assignment). Iteration cost drops from iters·N·(assign) to
    *    iters·(32·cells)·(assign) + N·(assign).
    *  - `nCoarse > 1`: every assign (training and final) routes
    *    two-level through [[assignToCells]] — N·2·√cells instead of
    *    N·cells.
    *
    * `sampleMod = 1, nCoarse = 1` is plan- and bit-identical to the
    * historical full Lloyd loop (the sampled branch and its extra final
    * pass are skipped entirely), which is what the ScaleKnobs floors
    * resolve to at every oracle sf — recorded hashes unchanged. A seed
    * cell with no sampled member simply trains no centroid (assign
    * argmaxes over the cells that exist), the same degeneracy full
    * Lloyd has when a cell empties between rounds.
    *
    * Sampled-branch seeding uses `(vec_id / sampleMod) mod nCells`, NOT
    * `vec_id mod nCells`: the sample is `vec_id ≡ 0 (mod sampleMod)`,
    * so the plain residue only reaches nCells/gcd(sampleMod, nCells)
    * seed cells — at gcd > 1 (e.g. sampleMod 2, cells 16) the trained
    * clustering would silently collapse by that factor and the
    * occupancy bound the cells knob holds would quietly multiply.
    * Dividing first makes the sampled ids consecutive, covering every
    * residue whenever the sample has ≥ nCells members. */
  def kmeansTrainSampled(embeddings: DataFrame, nCells: Int, iters: Int,
                         sampleMod: Int = 1, nCoarse: Int = 1,
                         nCoarse2: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val (t, rounds) = lloydRounds(e, nCells, iters, sampleMod, nCoarse, nCoarse2)
    val asg = rounds.last.select("vec_id", "cell")
    if (sampleMod <= 1) asg
    else assignToCells(e, trainedCentroids(t, asg), nCoarse, nCoarse2)
      .select("vec_id", "cell")
  }

  /** The seeded Lloyd loop behind [[kmeansTrainSampled]] and
    * [[kmeansQuality]]: the training frame `t` (the `vec_id ≡ 0 (mod
    * sampleMod)` sample of `e`, or `e` itself) and the assignment before
    * and after each round — the seed (vec_id, cell) first, then `iters`
    * rounds of (vec_id, cell, ccos), each assigned against the centroids
    * of the one before. Every round is localCheckpoint'd lazily: the next
    * round's (or the caller's) job materializes it (r12). */
  private def lloydRounds(e: DataFrame, nCells: Int, iters: Int, sampleMod: Int,
                          nCoarse: Int, nCoarse2: Int): (DataFrame, Seq[DataFrame]) = {
    val t = if (sampleMod <= 1) e
            else e.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val seedId = if (sampleMod <= 1) col("vec_id")
                 else expr(s"vec_id div ${sampleMod}L")
    val seed = t.select(col("vec_id"), pmod(seedId, lit(nCells.toLong)).as("cell"))
    (t, (1 to iters).scanLeft(seed) { (asg, _) =>
      assignToCells(t, trainedCentroids(t, asg), nCoarse, nCoarse2)
        .localCheckpoint(false)
    })
  }

  /** Per-cell centroids of the training frame `t` under assignment `asg`. */
  private def trainedCentroids(t: DataFrame, asg: DataFrame): DataFrame =
    centroids(t.join(asg, "vec_id")
      .select(col("cell").as("label"), col("emb").as("embedding")))

  /** Convergence telemetry for [[kmeansTrain]] — one row per round r:
    * the mean cosine of every vector to the centroid it was assigned in
    * round r (under round r's centroids), and how many vectors changed
    * cell vs round r−1. Mean cosine rises and movement falls as Lloyd's
    * converges; this is the signal that picks `iters` (run until
    * n_moved ~ 0). The rounds are [[lloydRounds]], the loop
    * [[kmeansTrainSampled]] trains with, so under sampled training the
    * telemetry measures convergence on the sample — the thing the
    * iteration-count decision is actually made on. The per-round metrics
    * are FREE on the corpus side: the argmax that picks the new cell
    * already carries the winning cosine (`ccos` IS
    * cosine-to-assigned-centroid), so telemetry is a narrow 3-column
    * self-join with the previous assignment — no second scoring pass
    * over the corpus, no window, no driver traffic beyond the iters-row
    * result. */
  def kmeansQuality(embeddings: DataFrame, nCells: Int, iters: Int,
                    sampleMod: Int = 1, nCoarse: Int = 1,
                    nCoarse2: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val (_, rounds) = lloydRounds(e, nCells, iters, sampleMod, nCoarse, nCoarse2)
    rounds.zip(rounds.tail).zipWithIndex.map { case ((prev, next), i) =>
      next.join(prev.select(col("vec_id"), col("cell").as("prev_cell")), "vec_id")
        .agg(
          round(avg(col("ccos")), 6).as("mean_ccos"),
          sum((col("cell") =!= col("prev_cell")).cast("long")).as("n_moved"))
        .select(lit(i + 1).as("round"), col("mean_ccos"), col("n_moved"))
    }.reduce(_ unionByName _)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup scoped
    * to k-means cells. Members of each cell are ranked by
    * cosine-to-centroid ascending — the paper keeps the example LEAST
    * similar to its centroid (the most atypical survivor) — and a vector
    * is marked duplicate when any earlier-ranked cell-mate is >= threshold
    * cosine-similar to it. This is the one-pass "dominated by any earlier"
    * form, not the sequential greedy chain (whose survivors depend on
    * previous drops); the one-pass form is engine-portable and
    * order-deterministic, and prunes at least as much as the chain.
    *
    * Scale: the pair join is keyed by cell, so total pair work is
    * Σ|cell|² (cells are n/k-sized under k-means) — identical posture to
    * [[cosineNearDup]]; the centroid attach broadcasts |cells| rows, and
    * the rank window partitions by cell (never a global sort). Both
    * cosines are rounded to 6dp BEFORE the threshold test and the rank
    * order, so ties and boundary hits resolve identically in any engine.
    *
    * `nCells > 0` derives the cells from [[kmeansCells]] — k scales with
    * the data, independent of any label the input happens to carry, and
    * centroids are recomputed from the derived assignment. `nCells = 0`
    * keeps the input's `label` as the cell (the pre-clustered case). */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.4,
               nCells: Int = 0, nCoarse: Int = 1,
               nCoarse2: Int = 1, quantPre: Boolean = false,
               collapseExact: Boolean = false): DataFrame = {
    // Materialize the scored prelude ONCE (r12, guide §3.3): downstream
    // the frame is referenced by the collapse window, the rank window,
    // BOTH sides of the within-cell pair join and the final mark join —
    // without the cut, each reference re-expands (and re-EXECUTES) the
    // whole kmeans-derivation + centroid-attach subtree; the executed
    // nSem plan of emb_curation_audit carried 305 parquet-scan nodes
    // from exactly this. One stored pass of the scored corpus replaces
    // ~6 recomputations of its upstream at every scale.
    val scored0 = semDedupScored(embeddings, nCells, nCoarse, nCoarse2)
      .localCheckpoint()
    // Exact-copy collapse (r10 — the fifth-decade finding): when the
    // corpus carries byte-identical embeddings (multiplicity m per
    // value), every later copy is trivially a semantic dup of its
    // earliest copy (cos 1.0; identical ccos, so the rank tie breaks to
    // the min vec_id), so the quadratic pair pass may run over ONE
    // representative per distinct (cell, emb) value and expand back —
    // an EXACT rewrite (order restriction preserves rep order; a row
    // before rep_v implies that row's own rep is before rep_v), cutting
    // pair work by m² per value. This is the operator-level form of the
    // curation pipeline's "exact dedup before SemDeDup" ordering, and
    // it is what holds the Σ|cell|² bound when data diversity, not
    // volume, is the binding constraint: measured at sf1000emb (20M
    // rows, only 200k distinct values), the derived cells collapse
    // 160000 → 1211 and the uncollapsed pair pass is 431e9 pairs (172×
    // the occupancy bound — ~3 h/rep); collapsed it is ~43e6. Off by
    // default (the historical exact plan at oracle sfs); the bucketed
    // registered path collapses always. Requires threshold ≤ 1.0 (a
    // rounded self-cosine is exactly 1.0) — enforced loudly below
    // (ADVICE r10: with t > 1.0 the direct pair pass marks nothing,
    // but expandExactCopies would still mark every non-representative
    // copy — a silent divergence a comment cannot prevent).
    if (collapseExact) require(threshold <= 1.0,
      s"semDedup(collapseExact = true) requires threshold <= 1.0 (got " +
        s"$threshold): the collapse marks exact copies as duplicates of " +
        "their representative, which is only an exact rewrite of the " +
        "pair pass when a rounded cosine of 1.0 reaches the threshold")
    val (scored, withRep) =
      if (!collapseExact) (scored0, None)
      else {
        // same plan-cut as scored0: wr feeds the representative filter
        // AND the expand-back join
        val wr = scored0.withColumn("rep_id",
          min("vec_id").over(Window.partitionBy("cell", "emb")))
          .localCheckpoint()
        (wr.filter(col("vec_id") === col("rep_id")).drop("rep_id"), Some(wr))
      }
    def expand(markedReps: DataFrame): DataFrame = withRep match {
      case None => markedReps
      case Some(wr) => expandExactCopies(wr, markedReps)
    }
    val w = Window.partitionBy("cell").orderBy(col("ccos").asc, col("vec_id").asc)
    if (!quantPre) {
      // ranked is read three times (both pair-join sides + the final
      // mark join) — cut here keeps the window's exchange+sort single
      val ranked = scored.withColumn("crank", row_number().over(w))
        .localCheckpoint()
      expand(semDedupPairMark(ranked, threshold))
    } else {
      // Quantized pre-verify (r9, VERDICT r8 "Next round" #1): the frame
      // that crosses the window exchange and the within-cell self-join
      // carries a long-word-packed int8 vector (~80 B via i8_pack_l)
      // instead of the ~528-byte double array — ~6× fewer shuffle bytes
      // on the path that banded [64, 145] s at sf100emb, with the packed
      // words read as UnsafeRow VIEWS so the per-pair dot allocates
      // nothing (the first cut used BINARY, whose per-access copy made
      // the forced pair pass LOSE to classic — the measured trail is in
      // PLANS.md). Decisions stay EXACT (hashes bit-unchanged): the
      // quantized estimate est plus the per-pair analytic slack brackets
      // the true cosine,
      //   |cos − est| ≤ qe_a + qe_b + qe_a·qe_b     (qe = ‖v−v̂‖₂/‖v‖₂
      //                                              ≤ (scale+1e-7)·√d/‖v‖)
      // so est+slack < t ⇒ cos < t−1e-6 ⇒ round(cos,6) < t (safe drop),
      // and est−slack ≥ t ⇒ cos ≥ t+1e-6 ⇒ round(cos,6) ≥ t (sure dup,
      // no float recompute). Only the narrow ambiguous band between the
      // two bounds is confirmed against full vectors — fetched by id, so
      // the corpus-with-arrays never re-shuffles. The +1e-6 inside slack
      // covers the 6dp rounding half-step (5e-7), the 9dp scale rounding
      // (≤6.5e-8 via the 1e-7 inflation), and double fold error (~1e-13).
      //
      // The pair join has TWO consumers — the sure side folds through the
      // same cheap long-key hash-dedup the classic path uses (partial
      // HashAggregate before the exchange, so the shuffle carries ≤ one
      // id per vec per partition), and the ambiguous side is band-narrow
      // by construction. A one-pass groupBy(vec_id)+collect_set variant
      // was tried and MEASURED WORSE (185 s vs classic's 68 s forced at
      // sf100emb): collect_set plans as ObjectHashAggregate, whose
      // sort-based fallback sorts the full ~250M-row pair stream. Two
      // fused passes over view-packed words beat one pass through an
      // object-agg sort — the trail is in PLANS.md.
      val slim = scored
        .withColumn("qz", quantizeInt8(col("emb")))
        .withColumn("qe", (col("qz.scale") + lit(1e-7)) *
          sqrt(size(col("emb")).cast("double")) / col("vnorm"))
        .select(col("cell"), col("vec_id"), col("ccos"), col("vnorm"),
          i8PackL(col("qz.q")).as("ql"), col("qz.scale").as("qs"), col("qe"))
      val ranked = slim.withColumn("crank", row_number().over(w))
        .localCheckpoint() // three consumers, same cut as the exact path
      val a = ranked.select(col("cell"), col("crank").as("rank_a"),
        col("vec_id").as("vid_a"), col("ql").as("ql_a"), col("qs").as("qs_a"),
        col("vnorm").as("norm_a"), col("qe").as("qe_a"))
      // Zero-norm posture matches the exact path: under ANSI mode (the
      // Spark 4 default) a zero-norm vector raises DIVIDE_BY_ZERO in the
      // SHARED scored prelude (cosine-to-centroid divides by ‖v‖) before
      // either branch's pair arithmetic runs — both paths fail
      // identically rather than silently diverging. Spec-pinned.
      val cand = a.join(ranked, Seq("cell"))
        .filter(col("rank_a") < col("crank"))
        .withColumn("est", dotI8L(col("ql_a"), col("ql")).cast("double") *
          col("qs_a") * col("qs") / (col("norm_a") * col("vnorm")))
        .withColumn("slack",
          col("qe_a") + col("qe") + col("qe_a") * col("qe") + lit(1e-6))
        .filter(col("est") + col("slack") >= threshold)
      val sure = cand.filter(col("est") - col("slack") >= threshold)
        .select("vec_id").distinct()
      val amb = cand.filter(!(col("est") - col("slack") >= threshold))
        .join(sure, Seq("vec_id"), "left_anti")
        .select("vec_id", "vid_a")
      val fat = embeddings
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("vnorm", norm(col("emb")))
      val confirmed = amb
        .join(fat.select(col("vec_id").as("vid_a"), col("emb").as("emb_a"),
          col("vnorm").as("norm_a")), Seq("vid_a"))
        .join(fat, Seq("vec_id"))
        .filter(round6(cosinePre(col("emb_a"), col("emb"),
          col("norm_a"), col("vnorm"))) >= threshold)
        .select("vec_id").distinct()
      expand(markDups(ranked, sure.unionByName(confirmed).distinct()))
    }
  }

  /** Re-attach exact copies after a representative-only pair pass: the
    * representative keeps its marked is_dup; every other copy is a dup
    * of its (earlier-ranked, cosine-1.0) representative. Narrow join on
    * the rep id — the fat arrays never re-shuffle. */
  private def expandExactCopies(withRep: DataFrame,
                                markedReps: DataFrame): DataFrame =
    withRep.select(col("cell"), col("vec_id"), col("ccos"), col("rep_id"))
      .join(markedReps.select(col("vec_id").as("rep_id"),
        col("is_dup").as("rep_dup")), Seq("rep_id"))
      .select(col("cell"), col("vec_id"),
        col("ccos").as("centroid_cos"),
        when(col("vec_id") === col("rep_id"), col("rep_dup"))
          .otherwise(lit(1)).as("is_dup"))

  /** The shared SemDeDup prelude: cell assignment (derived or carried),
    * centroid attach (broadcast), rounded cosine-to-centroid. */
  private def semDedupScored(embeddings: DataFrame, nCells: Int,
                             nCoarse: Int, nCoarse2: Int): DataFrame = {
    val base =
      if (nCells > 0)
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
          .join(kmeansCells(embeddings, nCells, nCoarse, nCoarse2), "vec_id")
      else
        embeddings.select(col("label").as("cell"), col("vec_id"),
          asDouble(col("embedding")).as("emb"))
    val cents = centroids(
      base.select(col("cell").as("label"), col("emb").as("embedding")))
    base
      .withColumn("vnorm", norm(col("emb")))
      .join(broadcast(cents), Seq("cell"))
      .withColumn("ccos", round6(cosine(col("emb"), col("cemb"))))
      .drop("cemb")
  }

  /** The historical exact pair pass over an already-ranked frame: every
    * row with an earlier-ranked cell-mate at ≥ threshold rounded cosine
    * is marked duplicate. Factored out so the bucketed variant runs the
    * IDENTICAL pair logic over a zero-Exchange scan. */
  private def semDedupPairMark(ranked: DataFrame, threshold: Double): DataFrame = {
    val a = ranked.select(col("cell"), col("crank").as("rank_a"),
      col("emb").as("emb_a"), col("vnorm").as("norm_a"))
    val dup = a.join(ranked, Seq("cell"))
      .filter(col("rank_a") < col("crank"))
      .filter(round6(cosinePre(col("emb_a"), col("emb"),
        col("norm_a"), col("vnorm"))) >= threshold)
      .select("vec_id").distinct()
    markDups(ranked, dup)
  }

  /** `ranked` as (cell, vec_id, centroid_cos, is_dup): 1 for `dupIds`. */
  private def markDups(ranked: DataFrame, dupIds: DataFrame): DataFrame =
    ranked.join(dupIds.withColumn("is_dup", lit(1)), Seq("vec_id"), "left")
      .select(col("cell"), col("vec_id"), col("ccos").as("centroid_cos"),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))

  /** [[semDedup]] over CELL-BUCKETED POSTINGS — the A/B sibling of the
    * int8 pre-verify (VERDICT r8 "Next round" #1 option (a)): the scored
    * frame is persisted once bucketed+sorted by `cell`
    * ([[graft.ops.Bucketing.writeBucketed]]), so the rank window and the
    * within-cell self-join both read a scan that already reports
    * hash-partitioning on `cell` — ZERO Exchange nodes downstream of the
    * write. The trade: one full write+read of the corpus-with-arrays on
    * stable storage vs the quantized path's 8×-narrower single shuffle.
    * Row-for-row identical to [[semDedup]] (same pair logic, same
    * rounding, exact-copy collapse included — an exact rewrite) —
    * spec-pinned in SemDedupScaleSpec.
    *
    * Postings hygiene (VERDICT r9 #4 / ADVICE r9): `path`/`table` are
    * BASE names — each invocation suffixes both with a unique id, folds
    * the pair-marked result to a materialized frame, then drops the
    * table and deletes the directory. Two concurrent evaluations (same
    * JVM, separate sessions, or separate JVMs sharing a tmpdir) can no
    * longer overwrite each other's scored postings mid-query, and no
    * scratch state outlives the call. The suffix never reaches the
    * OUTPUT (rows are a pure function of the corpus — spec-pinned
    * identical to [[semDedup]]), so result determinism is untouched;
    * the readable `c<nCells>` prefix aids post-mortem inspection of a
    * crashed run's leftovers. */
  def semDedupBucketed(spark: org.apache.spark.sql.SparkSession,
                       embeddings: DataFrame, path: String,
                       threshold: Double = 0.4, nCells: Int = 0,
                       nCoarse: Int = 1, nCoarse2: Int = 1,
                       table: String = "semdedup_scored",
                       buckets: Int = 32): DataFrame = {
    // this path always collapses exact copies — same loud precondition
    // as semDedup(collapseExact = true) (ADVICE r10)
    require(threshold <= 1.0,
      s"semDedupBucketed requires threshold <= 1.0 (got $threshold): " +
        "the always-on exact-copy collapse is only an exact rewrite " +
        "when a rounded cosine of 1.0 reaches the threshold")
    val suffix =
      s"c${nCells}_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val uPath = s"$path/$suffix"
    val uTable = s"${table}_$suffix"
    val scored = semDedupScored(embeddings, nCells, nCoarse, nCoarse2)
    graft.ops.Bucketing.writeBucketed(scored, uTable, uPath, "cell", buckets)
    try {
      // exact-copy collapse, always on here (see semDedup's collapseExact
      // note — this path only engages past the cell floor, where the
      // fifth-decade finding showed multiplicity can break the occupancy
      // bound by 100×+). Both windows and the rank are satisfied by the
      // bucket's hash-partitioning on cell (subset clustering), so the
      // collapse costs a sort, never an Exchange.
      val withRep = spark.table(uTable).withColumn("rep_id",
        min("vec_id").over(Window.partitionBy("cell", "emb")))
      val ranked = withRep.filter(col("vec_id") === col("rep_id"))
        .drop("rep_id")
        .withColumn("crank", row_number().over(
          Window.partitionBy("cell").orderBy(col("ccos").asc, col("vec_id").asc)))
      // eager localCheckpoint: the zero-Exchange rank+pair plan executes
      // HERE, off the bucketed scan; the returned frame holds the marked
      // rows (narrow: cell, vec_id, centroid_cos, is_dup) with no
      // remaining dependency on the postings, which the finally clause
      // is then free to drop
      expandExactCopies(withRep, semDedupPairMark(ranked, threshold))
        .localCheckpoint(true)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $uTable")
      val p = new org.apache.hadoop.fs.Path(uPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }

  /** SEMANTIC decontamination — the embedding-space sibling of the
    * shingle/Bloom text decontamination family: a corpus vector is
    * contaminated when its cosine to ANY eval-set vector reaches the
    * threshold (eval items paraphrased or re-embedded evade exact and
    * n-gram matching; cosine against the eval embedding catches them).
    * Output is every corpus vector with its max eval cosine and the
    * matching eval id, flagged rather than dropped so the curation audit
    * sees WHAT matched before the filter applies.
    *
    * Scale shape: the eval set is benchmark-sized (thousands) →
    * broadcast; the corpus side is one scan through a broadcast
    * non-equi scoring join (the same bounded-broadcast posture as
    * [[knnBruteForce]], with the roles reversed: the SMALL side is the
    * query set, the corpus is never shuffled). At higher eval
    * cardinality the IVF route applies unchanged — probe the eval set's
    * cells only. Cosines round to 6dp before the threshold, so boundary
    * hits resolve identically in any engine. */
  def semanticDecontaminate(embeddings: DataFrame, evalFilter: Column,
                            threshold: Double = 0.4): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val ev = e.filter(evalFilter)
      .select(col("vec_id").as("eval_id"), col("emb").as("eemb"),
        col("vnorm").as("enorm"))
    val corpus = e.filter(!evalFilter)
    corpus.join(broadcast(ev), col("vec_id") =!= col("eval_id"))
      .withColumn("cos",
        round6(cosinePre(col("eemb"), col("emb"), col("enorm"), col("vnorm"))))
      .groupBy("vec_id")
      .agg(max(struct(col("cos").as("c"), (-col("eval_id")).as("ni"))).as("m"))
      .select(col("vec_id"),
        col("m.c").as("max_eval_cos"),
        (-col("m.ni")).as("nearest_eval_id"),
        (col("m.c") >= threshold).cast("int").as("contaminated"))
  }

  /** Deterministic random hyperplanes for sign-LSH: component (p, d) is a
    * uniform value in [-1, 1] derived from md5 — reproducible across
    * engines, runs, and partitionings (same property as the text hashes).
    */
  def hyperplanes(nPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dims) { (p, d) =>
      (graft.functions.Md5Prefix64.hash(s"$p:$d".getBytes) % 2001 - 1000) / 1000.0
    }

  /** Sign-LSH bucket id: bit p is set iff emb · plane_p >= 0. With n
    * planes the corpus splits into 2^n buckets; near-parallel vectors land
    * together with high probability. */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(lit).toIndexedSeq: _*)
      when(dot(emb, planeLit) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-LSH ANN — the hash-bucketed alternative to [[ivfSearch]]: no
    * centroid training pass, the bucket is a pure per-row expression. Each
    * query searches only its own bucket (nprobe=1 analog); multi-probe
    * (flipping low-confidence bits) is the standard recall extension.
    * Scale shape: bucket assignment is narrow (no shuffle), the bucket
    * equi-join is the only exchange. */
  def lshSearch(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
                nPlanes: Int = 4): DataFrame = {
    val dims = embeddings.select(size(col("embedding"))).first().getInt(0)
    val planes = hyperplanes(nPlanes, dims)
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
      .withColumn("bucket", lshBucket(col("emb"), planes))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("vnorm").as("qnorm"), col("bucket"))
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("knn_rank", row_number().over(wK))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("knn_rank"))
  }

  /** Multi-probe sign-LSH: the recall knob [[lshSearch]] documents.
    * Each query probes its own bucket plus every bucket whose code is
    * within Hamming distance `maxFlips` (flipping hyperplane sign bits —
    * the buckets a near-boundary neighbor most likely fell into), so
    * recall rises without adding hyperplanes or a second index. Probed
    * fraction ≈ (1 + C(nPlanes,1) + … + C(nPlanes,maxFlips)) / 2^nPlanes.
    * Scale shape is unchanged: the probe expansion is a row-local explode
    * on the (small, broadcast) query side — candidate generation is still
    * one equi-join on the bucket code, and a vector still lives in
    * exactly one bucket so no dedup step is needed. */
  def lshSearchMultiProbe(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
                          nPlanes: Int = 4, maxFlips: Int = 1): DataFrame = {
    require(maxFlips >= 0 && maxFlips <= 2, "maxFlips in 0..2 supported")
    val dims = embeddings.select(size(col("embedding"))).first().getInt(0)
    val planes = hyperplanes(nPlanes, dims)
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
      .withColumn("bucket", lshBucket(col("emb"), planes))
    val single = (0 until nPlanes).map(i => 1L << i)
    val double = for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
      yield (1L << i) | (1L << j)
    val masks: Seq[Long] = 0L +: ((if (maxFlips >= 1) single else Nil) ++
      (if (maxFlips >= 2) double else Nil))
    val q = e.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("vnorm").as("qnorm"), col("bucket"))
      .withColumn("probe_bucket",
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
      .drop("bucket")
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q), col("bucket") === col("probe_bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")))
      .withColumn("knn_rank", row_number().over(wK))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("knn_rank"))
  }

  /** One NN-descent refinement round (Dong et al., WWW 2011) over an
    * LSH-seeded kNN graph, with sampled-recall instrumentation.
    *
    * The graph-ANN alternative to IVF/PQ: start from a cheap approximate
    * kNN graph (here sign-LSH same-bucket top-k over ALL nodes, not just
    * a query subset) and improve it by scoring each node against its
    * neighbors' neighbors — "a neighbor of a neighbor is likely a
    * neighbor". One round is implemented because rounds compose by
    * re-feeding the refined graph; each round is two bounded equi-joins.
    *
    * Scale shape: the seed is the block-scoped quadratic every LSH op in
    * this file shares (Σ|bucket|² pair work; nPlanes ∝ log N keeps bucket
    * occupancy — and hence per-node seed cost — constant). The expansion
    * is seed ⋈ seed on the shared endpoint: ≤ k² candidates per node, so
    * the round costs O(N·k²) scored pairs INDEPENDENT of bucket size —
    * this is what makes NN-descent the standard graph-construction path
    * at billion-vector scale (k² ≈ 25 vs |bucket| ≈ N/2^planes). Recall
    * is measured against brute-force truth on a deterministic 1-in-
    * `sampleMod` node sample, so the exact side stays |sample|×N bounded
    * (the same discipline as [[knnBruteForce]]'s broadcast query set).
    *
    * avg_cos aggregates in exact integer micro-units (round→BIGINT sum)
    * so the result is independent of float summation order — hash-stable
    * across engines and shuffle widths, unlike a double `avg`.
    *
    * Returns 2 rows: (stage ∈ {refined, seed}, n_nodes, recall_at_k,
    * avg_cos) — refined recall ≥ seed recall is the invariant the spec
    * pins. */
  def nnDescentRecall(embeddings: DataFrame, k: Int = 5, nPlanes: Int = 4,
                      sampleMod: Int = 20): DataFrame = {
    val dims = embeddings.select(size(col("embedding"))).first().getInt(0)
    // The documented knobs must actually MOVE with N (the r5→r6 sf10
    // spot-bench caught the defaults frozen: 16 buckets at 200k vectors
    // → Σ|bucket|² ≈ 2.5e9 seed pairs → OOM at the default heap).
    //  - nPlanes ∝ log N: hold expected bucket occupancy ≈ 1250 vectors,
    //    so per-node seed cost stays constant as the corpus grows;
    //  - the brute-truth sample is a bounded COUNT (~100 queries), not a
    //    fixed fraction — recall-estimate precision does not grow with N,
    //    but a 1-in-20 sample of 200k nodes is 10k×N scored pairs.
    // Both formulas floor at the declared parameter: corpora ≤ sf0.1 —
    // including the sf0.01 oracle — are bit-unchanged; at sf1 the plane
    // count still resolves to 4 but the truth sample caps at ~100
    // queries (the recall estimate's variance changes, not its
    // expectation).
    val n = embeddings.count()
    val effPlanes = graft.ops.ScaleKnobs.lshPlanes(n, floor = nPlanes)
    val effSampleMod = graft.ops.ScaleKnobs.truthSampleMod(n, floor = sampleMod)
    val planes = hyperplanes(effPlanes, dims)
    // bucket+norm computed once; localCheckpoint truncates lineage so the
    // four consumers (2 seed sides, candidate scoring, brute truth) reuse
    // the materialized frame instead of re-deriving it
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
      .withColumn("bucket", lshBucket(col("emb"), planes))
      .localCheckpoint()

    val wU = Window.partitionBy("u").orderBy(col("cos").desc, col("w").asc)
    def topK(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(e.select(col("vec_id").as("u"), col("emb").as("uemb"),
          col("vnorm").as("unorm")), "u")
        .join(e.select(col("vec_id").as("w"), col("emb").as("wemb"),
          col("vnorm").as("wnorm")), "w")
        .withColumn("cos",
          cosinePre(col("uemb"), col("wemb"), col("unorm"), col("wnorm")))
      scored.withColumn("rk", row_number().over(wU)).filter(col("rk") <= k)
        .select(col("u"), col("w"), col("cos"))
    }

    // seed graph: same-bucket pairs, per-node top-k. Scored INLINE in the
    // bucket self-join — the arrays ride the bucket shuffle (N rows per
    // side) and die at the projection, so only (u, w, cos) longs reach
    // the window shuffle. Routing the seed through topK instead (join
    // arrays per PAIR) shuffles |pairs| × two embedding arrays — at sf10
    // (200k vectors, ~1.6e8 seed pairs) that is hundreds of GB and falls
    // out of page cache: the r6 second-decade bench measured 96× time for
    // 6× pair work before this change. Each vector has exactly ONE
    // bucket, so the pair set (and every cos) is bit-identical to the
    // fetch-by-pair form — the sf0.01 oracle hash is unchanged.
    val ebk = e.select(col("bucket"), col("vec_id"), col("emb"), col("vnorm"))
    val seed = ebk.select(col("bucket"), col("vec_id").as("u"),
        col("emb").as("uemb"), col("vnorm").as("unorm"))
      .join(ebk.select(col("bucket"), col("vec_id").as("w"),
        col("emb").as("wemb"), col("vnorm").as("wnorm")), "bucket")
      .filter(col("u") =!= col("w"))
      .withColumn("cos",
        cosinePre(col("uemb"), col("wemb"), col("unorm"), col("wnorm")))
      .select(col("u"), col("w"), col("cos"))
      .withColumn("rk", row_number().over(wU)).filter(col("rk") <= k)
      .select(col("u"), col("w"), col("cos"))
      .localCheckpoint() // seed feeds 3 consumers (2 expansion sides + metrics)

    // one NN-descent round: u→v→w ⇒ candidate (u, w), unioned with the
    // seed edges, deduped, re-scored, re-ranked
    val non = seed.select(col("u"), col("w").as("v"))
      .join(seed.select(col("u").as("v"), col("w")), "v")
      .select("u", "w").filter(col("u") =!= col("w"))
    val refined = topK(seed.select("u", "w").union(non).distinct())

    val nSample = e.filter(col("vec_id") % effSampleMod === 0)
      .agg(count(lit(1)).as("n_nodes")).withColumn("jk", lit(1))
    val brute = knnBruteForce(embeddings, col("vec_id") % effSampleMod === 0, k)
      .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))

    def stageMetrics(stage: String, edges: DataFrame): DataFrame =
      edges.filter(col("u") % effSampleMod === 0)
        .join(brute, col("u") === col("bq") && col("w") === col("bn"), "left")
        .agg(
          sum(when(col("bq").isNotNull, 1L).otherwise(0L)).as("hits"),
          sum(round(col("cos") * 1000000.0, 0).cast("long")).as("cos_micro"),
          count(lit(1)).as("n_edges"))
        .withColumn("jk", lit(1)).join(broadcast(nSample), "jk")
        .select(lit(stage).as("stage"), col("n_nodes"),
          round(col("hits").cast("double") / (col("n_nodes") * k), 6)
            .as(s"recall_at_$k"),
          round(col("cos_micro").cast("double") / 1000000.0 / col("n_edges"), 6)
            .as("avg_cos"))

    stageMetrics("seed", seed).unionByName(stageMetrics("refined", refined))
      .orderBy("stage")
  }

  /** Greedy Maximal-Marginal-Relevance subset selection (Carbonell &
    * Goldstein 1998) — pick k results that are RELEVANT to the query yet
    * DIVERSE among themselves: step i takes
    * argmax λ·rel(x) − (1−λ)·max_{s∈S} sim(x, s). The training-data use
    * is diverse exemplar/eval-set selection, where plain top-k returns k
    * near-copies of the same neighborhood.
    *
    * Scale shape: the corpus appears ONLY in the candidate-pool ANN
    * search (here [[knnBruteForce]]; swap in the IVF path at scale). The
    * greedy loop itself touches pool-sized frames: pairwise sims are
    * pool² per query (a bounded block — the pool size is a compile-time
    * constant), and each of the k unrolled steps is an equi-join +
    * windowed argmax over ≤ pool rows per query.
    *
    * Determinism: λ is the rational `lamTenths`/10 and the greedy compare
    * runs on EXACT INTEGERS — rel and sim are 6-dp values, so
    * score_u = rel_micro·λ₁₀ − sim_micro·(10−λ₁₀) in 1e-7 units is exact
    * arithmetic with a neighbor-id tie-break; no float round sits on the
    * selection path (a first cut rounded rel·0.7 at 6 dp and hit the
    * round-half boundary engines disagree on). The reported score is the
    * exact integer over 1e7 — the same double in any engine. The oracle
    * replays the identical k-step chain as unrolled CTEs.
    *
    * r12 shape: the corpus appears ONLY in the ANN pool scan; the pool
    * then collects to one ≤pool-element array per query and the whole
    * greedy chain runs inside [[graft.functions.MmrSelect]] — a single
    * flat per-row expression (see its scaladoc for the bit-equivalence
    * contract and for why the first attempt, nested higher-order
    * functions, planned exponentially). The r1–r11 form unrolled the
    * chain as k iterations of [join + windowed argmax + anti join],
    * each step localCheckpoint'd — 10 eager materialization jobs and
    * ~15 exchanges whose inputs were ≤ |q|·pool ROWS (guide §1.2:
    * pool-bounded work belongs in an expression, not in operators).
    * Selection path, scores, ties, and the rank-missing-when-pool-
    * exhausted edge are bit-identical. */
  def mmrSelect(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
                pool: Int = 20, lamTenths: Int = 7): DataFrame = {
    require(lamTenths > 0 && lamTenths <= 10, "λ in (0,1] tenths")
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("vnorm", norm(col("emb")))
    val cand = knnBruteForce(embeddings, queryFilter, pool)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
    // pool attach: candidates are ≤ |q|·pool rows by construction —
    // broadcast them; the corpus never shuffles
    val pe = e.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("emb"), col("vnorm"))
    val pooled = pe.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("neighbor_id"), col("rel"),
        col("emb"), col("vnorm")))).as("pool"))
    // sel is selection-ordered; posexplode recovers mmr_rank, and
    // score = su / 1e7 is the identical final op the unrolled plan used
    pooled
      .select(col("query_id"),
        call_function("mmr_select", col("pool"), lit(k), lit(lamTenths))
          .as("sel"))
      .select(col("query_id"), posexplode(col("sel")).as(Seq("p", "s")))
      .select(col("query_id"), col("s.neighbor_id").as("neighbor_id"),
        (col("p") + 1).cast("int").as("mmr_rank"), col("s.rel").as("rel"),
        (col("s.su").cast("double") / 10000000.0).as("score"))
  }

  /** Symmetric int8 scalar quantization: per-vector scale = max|v| / 127,
    * q_i = trunc(v_i / scale) ∈ [-127, 127]. Truncation (not rounding) is
    * chosen deliberately: it is bit-identical across engines, while
    * round-half behavior differs. Cuts an embedding store to ~1/4 the
    * bytes; search re-ranks the quantized candidates against float
    * vectors. Zero vectors quantize to zeros with scale 0. */
  def quantizeInt8(emb: Column): Column = {
    val scale = array_max(transform(emb, v => abs(v))) / lit(127.0)
    struct(
      round(scale, 9).as("scale"),
      when(scale === 0.0, transform(emb, _ => lit(0)))
        .otherwise(transform(emb, v => (v / scale).cast("int"))).as("q"))
  }

  /** Approximate kNN over the int8-quantized store: similarity estimate =
    * (int dot of quantized vectors) × scale_a × scale_b — exact integer
    * arithmetic plus two double multiplies, so fully engine-portable. The
    * real pipeline re-ranks these candidates against float vectors; here
    * the estimate itself is the ranked output (with the true cosine
    * alongside to expose the quantization error). */
  def quantizedKnn(embeddings: DataFrame, queryFilter: Column, k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"),
      quantizeInt8(asDouble(col("embedding"))).as("qz"))
      .withColumn("vnorm", norm(col("emb")))
    val q = e.filter(queryFilter).select(
      col("vec_id").as("query_id"), col("emb").as("qemb"),
      col("qz").as("qqz"), col("vnorm").as("qnorm"))
    val qdot = aggregate(
      zip_with(col("qqz.q"), col("qz.q"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val w = Window.partitionBy("query_id").orderBy(col("est").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("est",
        round(qdot.cast("double") * col("qqz.scale") * col("qz.scale"), 6))
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("est"),
        round(cosinePre(col("qemb"), col("emb"), col("qnorm"), col("vnorm")), 6)
          .as("true_cosine"),
        col("knn_rank"))
  }

  /** Squared L2 distance with explicit association — (a·a − 2(a·b)) + b·b —
    * so every engine computes the identical float sequence from the same
    * three dot folds. The self-products arrive precomputed (`a2`, `b2`):
    * inside a (vectors × cells) pair join they are per-SIDE quantities,
    * and hoisting them into the projected sides divides the fold work per
    * pair by three without moving a single bit (same ops, same order). */
  private def dist2Pre(a2: Column, a: Column, b: Column, b2: Column): Column =
    (a2 - lit(2.0) * dot(a, b)) + b2

  /** Per-(cell, subspace) PQ codebook entries, derived by slicing the full
    * per-cell centroids: the mean of a subvector IS the subvector of the
    * mean (each dimension averages independently), so one centroid pass
    * feeds both IVF and PQ. */
  private def pqSub(cemb: Column, j: Int, dsub: Int): Column =
    slice(cemb, j * dsub + 1, dsub)

  /** Project a vector frame to its PQ working set: one subvector column +
    * its squared norm per subspace (slices materialize once here, not per
    * pair). */
  private def pqProject(df: DataFrame, vecCol: String, keep: Seq[Column],
                        m: Int, dsub: Int, p: String): DataFrame =
    df.select(keep ++ (0 until m).map(j =>
        pqSub(col(vecCol), j, dsub).as(s"${p}sub_$j")): _*)
      .select(keep ++ (0 until m).flatMap(j => Seq(col(s"${p}sub_$j"),
        dot(col(s"${p}sub_$j"), col(s"${p}sub_$j")).as(s"${p}n2_$j"))): _*)

  /** Product-quantization codes: split each vector into `m` subvectors and
    * store, per subspace, the id of the nearest (L2) codebook centroid —
    * here the per-cell centroids of [[centroids]] serve as each subspace's
    * codebook. A 64-dim float vector compresses to m=4 small ints (~4
    * bytes vs 256), the compression that lets a 100 TB embedding store
    * keep its candidate-scoring representation memory-resident.
    *
    * Shape: corpus × broadcast(codebook) with the per-subspace argmin as
    * `max(struct(-dist, -cell))` — map-side combinable, no window, ties
    * break to the lowest cell id in any engine. */
  def pqCodes(embeddings: DataFrame, m: Int = 4): DataFrame =
    pqCodesOfDims(embeddings, centroids(embeddings), m,
      vectorDims(embeddings, "embedding"))

  /** The vector width of `vecCol`, read from its first row: one eager job,
    * run once per search and handed to every step that needs it. */
  private def vectorDims(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).first().getInt(0)

  /** The PQ subvector width, dims / m. */
  private def pqDsub(dims: Int, m: Int): Int = {
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    dims / m
  }

  private def pqCodesOfDims(embeddings: DataFrame, cents: DataFrame, m: Int,
                            dims: Int): DataFrame = {
    val dsub = pqDsub(dims, m)
    val e = pqProject(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      "emb", Seq(col("vec_id")), m, dsub, "e")
    val c = pqProject(cents, "cemb", Seq(col("cell")), m, dsub, "c")
    val scored = e.crossJoin(broadcast(c))
    val aggs = (0 until m).map { j =>
      max(struct(
        (-dist2Pre(col(s"en2_$j"), col(s"esub_$j"),
          col(s"csub_$j"), col(s"cn2_$j"))).as("s"),
        (-col("cell")).as("nc"))).as(s"m_$j")
    }
    scored.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until m).map(j => (-col(s"m_$j.nc")).as(s"code_$j")): _*)
  }

  /** Asymmetric-distance (ADC) kNN over the PQ codes: the query stays
    * exact; each corpus vector is approximated by its per-subspace
    * codebook entries, so est_dist = Σ_j ‖q_j − codebook[code_j]‖².
    * The scan touches ONLY the code table and a per-query (cells × m)
    * lookup table — raw vectors are needed just for re-ranking the
    * survivors. The LUT join is m broadcast equi-joins (query fan-out ×
    * code match); summation order is fixed (d_0+d_1+…), bit-deterministic.
    */
  def pqSearch(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
               m: Int = 4): DataFrame = {
    val dims = vectorDims(embeddings, "embedding")
    val queries = embeddings.filter(queryFilter)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qemb"))
    // one centroid derivation feeds both the code assignment and the LUT
    val cents = centroids(embeddings)
    // exhaustive ADC: every code row is a candidate of every query
    val lut = adcLut(queries, cents, m, dims, "query_id")
    adcTopK(longCodes(pqCodesOfDims(embeddings, cents, m, dims), Seq("vec_id"), m)
      .join(broadcast(lut), col("csub") === col("sub") && col("code") === col("cell"))
      .filter(col("vec_id") =!= col("query_id")), m, k)
  }

  /** Per-query ADC lookup table in LONG form — (`qid`, sub, cell, d) with
    * d = ‖q_sub − codebook[cell]_sub‖² — so code lookup is ONE broadcast
    * equi-join on (sub, code) instead of m separate join subtrees (which
    * would each re-derive the centroid table: no exchange reuse across
    * differently-projected broadcasts). `queries` is (query_id, qemb). */
  private def adcLut(queries: DataFrame, cents: DataFrame, m: Int, dims: Int,
                     qid: String): DataFrame = {
    val dsub = pqDsub(dims, m)
    val q = pqProject(queries, "qemb", Seq(col("query_id")), m, dsub, "q")
    val c = pqProject(cents, "cemb", Seq(col("cell")), m, dsub, "c")
    q.crossJoin(broadcast(c))
      .select(col("query_id").as(qid), col("cell"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          dist2Pre(col(s"qn2_$j"), col(s"qsub_$j"), col(s"csub_$j"), col(s"cn2_$j"))
            .as("d"))): _*)).as("sd"))
      .select(col(qid), col("sd.sub").as("sub"), col("cell"), col("sd.d").as("d"))
  }

  /** A code table (`keep`…, code_0..code_{m-1}) in LONG form: one
    * (`keep`…, csub, code) row per subspace, ready for the LUT join. */
  private def longCodes(codes: DataFrame, keep: Seq[String], m: Int): DataFrame =
    codes.select(keep.map(col) :+
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          col(s"code_$j").as("code"))): _*)).as("sc"): _*)
      .select(keep.map(col) ++ Seq(col("sc.sub").as("csub"), col("sc.code").as("code")): _*)

  /** The ADC tail over LUT-joined candidate rows (query_id, vec_id, sub,
    * d): one row per subspace → m conditional aggregates re-widen it, so
    * the sum runs in a FIXED order (d_0+d_1+…), map-side combinable and
    * bit-deterministic; then the per-query top-k by (est_dist, vec_id). */
  private def adcTopK(scored: DataFrame, m: Int, k: Int): DataFrame = {
    val aggs = (0 until m).map(j =>
      max(when(col("sub") === j, col("d"))).as(s"d_$j"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("est_dist").asc, col("vec_id").asc)
    scored.groupBy("query_id", "vec_id")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("est_dist", (0 until m).map(j => col(s"d_$j")).reduce(_ + _))
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("est_dist"), 6).as("est_dist"), col("knn_rank"))
  }

  /** IVF-PQ composed search — the production ANN serving layout: IVF
    * routing picks `nprobe` cells, ADC over PQ codes scores ONLY the
    * vectors in those cells. Each half exists standalone ([[ivfSearch]],
    * [[pqSearch]]); composing them multiplies their savings — the scan
    * touches ~nprobe/|cells| of the corpus AND reads m-int codes instead
    * of raw floats. With nprobe = |cells| this degenerates to exactly
    * [[pqSearch]] (spec-asserted), the same way exhaustive probing
    * recovers brute force for IVF.
    *
    * Shape at 100 TB: the probe table is query-set × nprobe rows
    * (broadcast); candidate generation is one broadcast join against the
    * code table's cell column; the ADC LUT join and fixed-order sum are
    * [[pqSearch]]'s ([[adcLut]], [[adcTopK]]), restricted to
    * candidates. */
  def ivfPqSearch(embeddings: DataFrame, queryFilter: Column, k: Int = 5,
                  nprobe: Int = 1, m: Int = 4): DataFrame = {
    val dims = vectorDims(embeddings, "embedding")
    // |cells|-row frame consumed by THREE differently-projected broadcast
    // subtrees (codes, probes, ADC LUT) — Spark gets no exchange reuse
    // across those, so without materialization the corpus-side centroid
    // aggregation runs three times. localCheckpoint computes it once;
    // at 100 TB that is 1 corpus aggregation instead of 3.
    val cents = centroids(embeddings).localCheckpoint()
    val queries = embeddings.filter(queryFilter)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qemb"))
    val codes = pqCodesOfDims(embeddings, cents, m, dims)
      .join(embeddings.select(col("vec_id"), col("label").as("cell")), "vec_id")
    // probe-pruned ADC: only the probed cells' codes are candidates
    val lut = adcLut(queries, cents, m, dims, "lq")
    val cand = codes.join(broadcast(ivfProbes(queries, cents, nprobe)),
        col("cell") === col("probe_cell"))
      .filter(col("vec_id") =!= col("query_id"))
    adcTopK(longCodes(cand, Seq("query_id", "vec_id"), m)
      .join(broadcast(lut), col("query_id") === col("lq") &&
        col("csub") === col("sub") && col("code") === col("cell")), m, k)
  }

  /** IVF probe routing: each query's `nprobe` nearest centroids by
    * cosine (ties to the lowest cell) — query-set × nprobe rows, always
    * broadcastable. `queries` is (query_id, qemb, `keep`…); the output is
    * (query_id, `keep`…, probe_cell). */
  private def ivfProbes(queries: DataFrame, cents: DataFrame, nprobe: Int,
                        keep: Seq[String] = Nil): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    queries.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("qemb"), col("cemb")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id") +: keep.map(col) :+ col("cell").as("probe_cell"): _*)
  }

  /** Cluster-quality metric (centroid silhouette): per vector,
    * a = cosine to its OWN cell's centroid, b = best cosine to any OTHER
    * centroid; s = a − b. Positive s = the vector sits closer to its own
    * centroid than to any rival — averaged per cell this is the cheap,
    * one-pass health check that tells you when the IVF/PQ cell structure
    * has drifted enough to warrant a [[kmeansAssign]] refresh (full
    * silhouette is O(N²); the centroid form is O(N·cells)). Two
    * conditional maxes under one groupBy, no window. */
  def silhouette(embeddings: DataFrame): DataFrame = {
    val cents = centroids(embeddings)
    val e = embeddings.select(col("vec_id"), col("label").as("own"),
      asDouble(col("embedding")).as("emb"))
    e.crossJoin(broadcast(cents))
      .withColumn("acos", cosine(col("emb"), col("cemb")))
      .groupBy("vec_id", "own")
      .agg(max(when(col("cell") === col("own"), col("acos"))).as("a"),
        max(when(col("cell") =!= col("own"), col("acos"))).as("b"))
      .groupBy(col("own").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("a") - col("b")), 6).as("avg_silhouette"))
  }

  /** One PCA power-iteration step over the embedding matrix: v' =
    * normalize(Xᶜᵀ(Xᶜ v₀)) with Xᶜ the mean-centered embeddings and v₀
    * the fixed 1/√d start vector — the distributed mat-vec primitive
    * under PCA dim-reduction / whitening / OPQ rotation training,
    * computed WITHOUT ever materializing a matrix: the d×d covariance
    * never exists, only per-row scalars (one dot product each) and a
    * d-row aggregation.
    *
    * Shape at 100 TB: one pass computes the d-row mean frame (map-side
    * combinable posexplode-avg, the [[centroids]] pattern made global);
    * the mean rides back as a 1-row broadcast array so centering is a
    * row-local zip; each row contributes (x−μ)·v₀ (a scalar) times its
    * centered coordinates to a d-row sum. Driver traffic is zero; the
    * two 1-row broadcast attaches (mean array, normalizer) are the
    * whitelisted BNLJ literal-attach pattern. Iterating k times = k
    * passes, the standard trade for top-k eigenvectors at scale. */
  def pcaPowerStep(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(asDouble(col("embedding")).as("emb"))
    val d = 64
    val v0 = 1.0 / math.sqrt(d.toDouble)
    // global per-dimension mean, reassembled as ONE ordered array row
    val muArr = e.select(posexplode(col("emb")).as(Seq("idx", "v")))
      .groupBy("idx").agg(avg("v").as("mu"))
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("mu")))),
        s => s.getField("mu")).as("muarr"))
    val centered = e.crossJoin(broadcast(muArr))
      .withColumn("cx", zip_with(col("emb"), col("muarr"), (a, b) => a - b))
      .withColumn("s", dot(col("cx"), array(Seq.fill(d)(lit(v0)): _*)))
    val out = centered
      .select(posexplode(col("cx")).as(Seq("idx", "cv")), col("s"))
      .groupBy("idx").agg(sum(col("cv") * col("s")).as("uv"))
    // normalizer over the d-row result via a global window: bounded by
    // DIMENSION count, not corpus size, so the single partition is safe
    // at any scale — and it avoids re-deriving the whole corpus pass,
    // which a second aggregation branch would (measured: 6 scans → 3)
    val wAll = Window.partitionBy()
    out
      .withColumn("_n2", sum(col("uv") * col("uv")).over(wAll))
      .select(col("idx"), round(col("uv") / sqrt(col("_n2")), 6).as("component"))
      .orderBy("idx")
  }

  /** Per-cell stats: size, centroid norm, mean vector norm. */
  /** Split-half embedding drift monitor: partition each cell's vectors by
    * vec_id parity (a deterministic stand-in for "old batch vs new
    * batch"), compute both half-centroids, and report their cosine — the
    * production shape for detecting distribution shift between ingest
    * generations before it degrades an ANN index or a dedup threshold
    * (cos ≈ 1 ⇒ the cell is stationary; a drop flags re-clustering).
    * Scale: two |cells|×dims centroid aggregations (map-side combined)
    * and a |cells|-row join — no corpus-sized shuffle, and on a real
    * pipeline the "halves" come from partition pruning on an ingest-date
    * column, same plan shape. */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    val even = centroids(embeddings.filter(pmod(col("vec_id"), lit(2)) === 0))
      .select(col("cell"), col("cemb").as("c_even"))
    val odd = centroids(embeddings.filter(pmod(col("vec_id"), lit(2)) === 1))
      .select(col("cell"), col("cemb").as("c_odd"))
    val counts = embeddings.groupBy(col("label").as("cell"))
      .agg(sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L))
          .as("n_even"),
        sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L))
          .as("n_odd"))
    counts.join(even, "cell").join(odd, "cell")
      .withColumn("drift_cosine",
        round(cosine(col("c_even"), col("c_odd")), 6))
      .select("cell", "n_even", "n_odd", "drift_cosine")
  }

  def clusterStats(embeddings: DataFrame): DataFrame = {
    val perRow = embeddings.select(col("label").as("cell"),
      norm(asDouble(col("embedding"))).as("vnorm"))
    val stats = perRow.groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"), round(avg("vnorm"), 6).as("avg_norm"))
    stats.join(
      centroids(embeddings).select(col("cell"),
        round(norm(col("cemb")), 6).as("centroid_norm")),
      "cell")
  }
}
