package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SentencePiece-style unigram language-model tokenizer (Kudo 2018,
  * arXiv:1804.10959) — the OTHER real-world subword tokenizer next to
  * [[TextOps.bpeTrain]]'s BPE: a piece VOCABULARY with unigram
  * probabilities, scored by segmentation likelihood, trained by EM over
  * expected piece counts.
  *
  * Everything runs at the DISTINCT-WORD grain weighted by corpus counts
  * (the same sublinear-in-corpus posture as the BPE trainer): the only
  * corpus-sized pass is the word count. Per word, the lattice DP
  * (forward α, backward β, Viterbi max-product) is ONE `aggregate` fold
  * over the word's candidate piece occurrences — a row-local expression,
  * no shuffle, no UDF — with the state array sized by word length.
  * Probabilities stay in PROBABILITY space (not log) through the folds:
  * the chains are then pure correctly-rounded IEEE ·/+ in a fixed fold
  * order, so α/β/Viterbi are bit-identical in any engine (log only at
  * the very end, one call, 6dp-rounded — the q50 precedent). Underflow
  * is structurally bounded: probs ≥ 1/Σcnt and words are tens of chars,
  * far above double's 1e-308 floor.
  *
  * E-step expected counts use the classic forward-backward identity
  * ec(occurrence j→i) = α[j]·p·β[i]/α[L] — no argmax, no backtracking,
  * no tie-breaking, which is exactly what makes full EM the
  * deterministic choice over hard (Viterbi) EM here. The M-step
  * renormalizes expected counts into new probabilities. Per-piece sums
  * cross partitions and are rounded to 6dp after aggregation (the
  * repo-wide float contract, DeterminismSpec-enforced).
  */
object UnigramLm {

  /** Distinct corpus words with occurrence counts — the working grain. */
  private[text] def words(docs: DataFrame): DataFrame =
    TextOps.tokenized(docs)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** One row per candidate piece occurrence: (word, wcount, j, i, piece)
    * with the piece spanning 0-based char positions [j, i) and
    * i−j ≤ maxPieceLen. */
  private def occurrences(w: DataFrame, maxPieceLen: Int): DataFrame =
    w.select(col("word"), col("wcount"),
        explode(flatten(transform(
          sequence(lit(1), length(col("word"))),
          i => transform(
            sequence(greatest(i - maxPieceLen, lit(0)), i - 1,
              lit(1)),
            j => struct(j.as("j"), i.as("i"),
              col("word").substr(j + 1, i - j).as("piece")))))).as("o"))
      .select(col("word"), col("wcount"), col("o.j"), col("o.i"), col("o.piece"))

  /** Seed vocabulary: the `vocabSize` most frequent substrings (≤
    * maxPieceLen chars, corpus-count-weighted, ties to the lexicographic
    * piece) UNIONed with every single character — the coverage guarantee
    * that keeps all words segmentable. `p` = count share over the
    * selected set. */
  def seedVocab(docs: DataFrame, maxPieceLen: Int = 4,
                vocabSize: Int = 60): DataFrame =
    seedVocabFrom(occurrences(words(docs), maxPieceLen), vocabSize)

  /** Seed vocabulary from a prebuilt occurrence frame — every public
    * entry point builds `occurrences` exactly ONCE (the dominant cost of
    * the family) and derives both the vocabulary and the lattice from
    * it. */
  private def seedVocabFrom(occ: DataFrame, vocabSize: Int): DataFrame = {
    val counts = occ.groupBy("piece").agg(sum(col("wcount")).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("piece").asc).limit(vocabSize)
    val chars = counts.filter(length(col("piece")) === 1)
    val sel = top.unionByName(chars).groupBy("piece").agg(max("cnt").as("cnt"))
    sel.crossJoin(broadcast(sel.agg(sum("cnt").as("tot"))))
      .select(col("piece"), col("cnt"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
  }

  /** Forward fold: α[0]=1; each entry [i,j,p] (sorted by (i,j,p)) adds
    * α[j]·p into α[i]. Returns the α array (length L+1). transform's
    * index is 0-based, so index k IS position k. */
  private def alphaFold(es: Column, len: Column): Column =
    aggregate(es,
      concat(array(lit(1.0)), transform(sequence(lit(1), len), _ => lit(0.0))),
      (acc, e) => transform(acc, (x, k) =>
        when(k === e.getItem(0).cast("int"),
          x + element_at(acc, e.getItem(1).cast("int") + 1) * e.getItem(2))
          .otherwise(x)))

  /** Viterbi max-product fold over the same forward entries. */
  private def viterbiFold(es: Column, len: Column): Column =
    aggregate(es,
      concat(array(lit(1.0)), transform(sequence(lit(1), len), _ => lit(0.0))),
      (acc, e) => transform(acc, (x, k) =>
        when(k === e.getItem(0).cast("int"),
          greatest(x,
            element_at(acc, e.getItem(1).cast("int") + 1) * e.getItem(2)))
          .otherwise(x)))

  /** Backward fold: β[L]=1; entries [j,i,p] sorted DESC add p·β[i] into
    * β[j]. */
  private def betaFold(esBack: Column, len: Column): Column =
    aggregate(esBack,
      concat(transform(sequence(lit(1), len), _ => lit(0.0)), array(lit(1.0))),
      (acc, e) => transform(acc, (x, k) =>
        when(k === e.getItem(0).cast("int"),
          x + e.getItem(2) * element_at(acc, e.getItem(1).cast("int") + 1))
          .otherwise(x)))

  /** Vocab-scored occurrences with per-word sorted entry encodings:
    * `es` = [i,j,p] ascending (forward/Viterbi order), `esb` = [j,i,p]
    * descending (backward order). Array-of-double encoding keeps the
    * sort key identical across engines. */
  private def wordLattice(occ: DataFrame, vocab: DataFrame): DataFrame =
    occ.join(broadcast(vocab.select(col("piece"), col("p"))), "piece")
      .groupBy("word", "wcount")
      .agg(
        sort_array(collect_list(array(col("i").cast("double"),
          col("j").cast("double"), col("p")))).as("es"),
        reverse(sort_array(collect_list(array(col("j").cast("double"),
          col("i").cast("double"), col("p"))))).as("esb"))

  /** Per-word segmentation scores under the seed vocabulary: the Viterbi
    * (single best segmentation) and marginal (all segmentations)
    * log-likelihoods. The E-step objective surfaced as telemetry — at
    * scale this is the table that ranks words by how badly the current
    * vocabulary fits them. */
  def scoreWords(docs: DataFrame, maxPieceLen: Int = 4,
                 vocabSize: Int = 60): DataFrame = {
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val vocab = seedVocabFrom(occ, vocabSize)
    val lat = wordLattice(occ, vocab)
    val len = length(col("word"))
    lat
      .withColumn("alpha", alphaFold(col("es"), len))
      .withColumn("vit", viterbiFold(col("es"), len))
      .select(col("word"), col("wcount"),
        round(log(element_at(col("vit"), len + 1)), 6).as("viterbi_logp"),
        round(log(element_at(col("alpha"), len + 1)), 6).as("marginal_logp"))
  }

  /** Viterbi ENCODE — the user-facing tokenize: each distinct word's
    * single best segmentation under the seed vocabulary, as a
    * '|'-joined piece string plus piece count and score. Backtracking
    * is deterministic: the best-predecessor of position i is the entry
    * maximizing (vit[j]·p) with ties to the LOWEST start j (longest
    * piece) — candidate values are identical bit-chains in any engine,
    * so the tie-break is engine-stable. The reconstruction walk is a
    * ≤L-step fold per word — row-local like the lattice itself. */
  def segmentWords(docs: DataFrame, maxPieceLen: Int = 4,
                   vocabSize: Int = 60): DataFrame = {
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val vocab = seedVocabFrom(occ, vocabSize)
    val lat = wordLattice(occ, vocab)
    val len = length(col("word"))
    val withVit = lat.withColumn("vit", viterbiFold(col("es"), len))
    // bp[i] (1-based over positions 1..L): best predecessor start j
    val bp = transform(sequence(lit(1), len), i =>
      aggregate(
        filter(col("es"), e => e.getItem(0).cast("int") === i),
        struct(lit(-1.0).as("v"), lit(-1).as("j")),
        (acc, e) => {
          val cv = element_at(col("vit"), e.getItem(1).cast("int") + 1) *
            e.getItem(2)
          val cj = e.getItem(1).cast("int")
          when(cv > acc.getField("v") ||
            (cv === acc.getField("v") && cj < acc.getField("j")),
            struct(cv.as("v"), cj.as("j"))).otherwise(acc)
        },
        acc => acc.getField("j")))
    // backward walk: state (pos, pieces); each of the ≤L steps consumes
    // the piece ending at pos and jumps to its start
    val walk = aggregate(
      sequence(lit(1), len),
      struct(len.as("pos"), array().cast("array<string>").as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(col("bp"), pos)
        when(pos > 0,
          struct(j.as("pos"),
            concat(array(col("word").substr(j + 1, pos - j)),
              acc.getField("pieces")).as("pieces")))
          .otherwise(acc)
      },
      acc => acc.getField("pieces"))
    withVit
      .withColumn("bp", bp)
      .withColumn("pieces", walk)
      .select(col("word"), col("wcount"),
        concat_ws("|", col("pieces")).as("segmentation"),
        size(col("pieces")).as("n_pieces"),
        round(log(element_at(col("vit"), len + 1)), 6).as("viterbi_logp"))
  }

  /** Vocabulary PRUNING — the other half of Kudo's algorithm (train()'s
    * EM optimizes probabilities over a FIXED piece set; real
    * SentencePiece training alternates EM with dropping the pieces whose
    * removal least hurts the corpus likelihood until the target size).
    * This is the prune STEP, composable with [[train]]'s EM rounds the
    * way [[emStep]] is the EM step.
    *
    * Per-piece loss delta from the same lattice folds: for every
    * multi-char vocabulary piece q and every word containing it,
    * re-run the forward fold over the word's lattice WITH q's edges
    * FILTERED OUT (row-local — an edge is q's iff its span substring
    * equals q, so no extra state rides the lattice); then
    *   loss(q) = Σ_words wcount · (ln α[L] − ln α^{−q}[L]),
    * the exact marginal-likelihood drop of removing q. A word with
    * α^{−q}[L] = 0 has NO segmentation without q — q is ESSENTIAL and
    * never pruned (the coverage guarantee generalized beyond single
    * chars). Single characters are never pruned by construction.
    * The bottom `nPrune` non-essential multi-char pieces by
    * (loss_delta, piece) are marked pruned.
    *
    * Work: one fold per DISTINCT (word, vocab piece in word) pair —
    * row-local after one broadcast vocab join; the only shuffles are
    * the word count and the |vocab|-row loss aggregation (6dp-rounded
    * after the cross-partition sum, the repo float contract). */
  def pruneVocab(docs: DataFrame, maxPieceLen: Int = 4, vocabSize: Int = 60,
                 nPrune: Int = 15): DataFrame = {
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val vocab = seedVocabFrom(occ, vocabSize).localCheckpoint()
    val loss = pieceLoss(occ, vocab)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("loss_delta").asc, col("piece").asc)
    val cand = loss.filter(col("essential_i") === 0)
      .withColumn("rk", row_number().over(w))
      .select(col("piece"), col("rk"))
    vocab.join(loss, Seq("piece"), "left").join(cand, Seq("piece"), "left")
      .select(col("piece"), round(col("p"), 6).as("p"),
        col("loss_delta"),
        (length(col("piece")) === 1 ||
          coalesce(col("essential_i"), lit(1)) === 1).as("essential"),
        coalesce(col("rk") <= nPrune, lit(false)).as("pruned"))
  }

  /** One EM round over a FIXED piece set: expected counts under `vocab`
    * probabilities, renormalized and 6dp-rounded into the next round's
    * (piece, p). The per-round rounding is the same pin the logreg
    * trainer applies to its weights: cross-partition float sums drift in
    * the last bits, and unpinned drift would COMPOUND over rounds. */
  private def emRound(occ: DataFrame, vocab: DataFrame): DataFrame = {
    val agg = expectedCounts(occ, vocab)
    // floor at 1e-6 AFTER the 6dp rounding: a rare piece whose p rounds
    // to exactly 0.0 would zero every lattice path through it — and if
    // that piece is a single character (the coverage guarantee), the
    // next round's z=0 division poisons the EM with Infinity/NaN. The
    // floor is mirrored verbatim in the DuckDB train oracle (greatest is
    // exact, so cross-engine bit-parity is preserved).
    agg.crossJoin(broadcast(agg.agg(round(sum("e"), 6).as("tot"))))
      .select(col("piece"),
        greatest(round(col("e") / col("tot"), 6), lit(1e-6)).as("p"))
  }

  /** The full EM training loop (the unigram twin of
    * [[TextOps.bpeTrain]]'s merge loop): `iters` rounds of
    * [[emRound]] from the seed vocabulary, piece set fixed (SentencePiece
    * additionally prunes low-probability pieces between rounds — a
    * filter on this loop's state, omitted so the piece axis stays
    * comparable across rounds). Per round: one lattice pass at
    * distinct-word grain and one vocabulary-sized aggregation; the
    * (piece, p) state carried between rounds is vocab-sized and
    * localCheckpoint'd — flat lineage, zero per-round driver traffic,
    * exactly the kmeansTrain/bpeTrain iteration posture. Returns
    * (piece, seed_prob, prob) — final probabilities next to the seed. */
  def train(docs: DataFrame, maxPieceLen: Int = 4, vocabSize: Int = 60,
            iters: Int = 3): DataFrame = {
    // occ is the corpus-derived working table of the family (distinct
    // words × candidate pieces) — the serialized cut bounds its blocks
    // (r13, guide §5); seed/vocab states are vocab-sized, default level
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val seed = seedVocabFrom(occ, vocabSize)
      .select(col("piece"), col("p"))
      .localCheckpoint()
    var vocab = seed
    for (_ <- 0 until iters)
      // lazy: each round's state is materialized by the next round's
      // (or the caller's) job — half the per-round job count (r12)
      vocab = emRound(occ, vocab).localCheckpoint(false)
    seed.select(col("piece"), round(col("p"), 6).as("seed_prob"))
      .join(vocab.withColumnRenamed("p", "prob"), "piece")
  }

  /** Per-piece removal loss — the shared core of [[pruneVocab]] (the
    * one-shot report) and [[pruneRound]] (the iterating Kudo loop): for
    * every multi-char vocab piece q, re-run the forward fold with q's
    * edges filtered out row-local; loss(q) = Σ wcount·(ln α[L] −
    * ln α^{−q}[L]), essential_i = 1 when some word has NO segmentation
    * without q. Returns (piece, essential_i, loss_delta). */
  private def pieceLoss(occ: DataFrame, vocab: DataFrame): DataFrame = {
    val lat = wordLattice(occ, vocab)
    val len = length(col("word"))
    val withZ = lat.withColumn("z",
      element_at(alphaFold(col("es"), len), len + 1))
    // distinct (word, multi-char vocab piece) pairs — the loss grain
    val wp = occ.join(broadcast(vocab.select("piece")), "piece")
      .filter(length(col("piece")) >= 2)
      .select("word", "piece").distinct()
    // α without q: same fold, q's edges filtered out by span substring
    val exclEs = filter(col("es"), e =>
      !(col("word").substr(e.getItem(1).cast("int") + 1,
        e.getItem(0).cast("int") - e.getItem(1).cast("int")) === col("piece")))
    val pair = wp.join(withZ.select(col("word"), col("wcount"),
        col("es"), col("z")), "word")
      .select(col("piece"), col("wcount"), col("z"),
        element_at(alphaFold(exclEs, len), len + 1).as("zq"))
    pair.groupBy("piece").agg(
      max((col("zq") === 0.0).cast("int")).as("essential_i"),
      round(sum(when(col("zq") > 0.0,
        col("wcount").cast("double") * (log(col("z")) - log(col("zq"))))
        .otherwise(lit(0.0))), 6).as("loss_delta"))
  }

  /** Loss-ranked prune of one round's vocabulary (the [[pruneVocab]]
    * core against an ARBITRARY current vocab state, not the seed): per
    * multi-char piece q, loss(q) = Σ wcount·(ln α[L] − ln α^{−q}[L])
    * from the same row-local lattice folds; essential pieces (some word
    * has NO segmentation without q) and single chars never prune. Drops
    * the bottom `nPrune` candidates by (loss_delta, piece) and
    * RENORMALIZES the survivors (6dp + 1e-6 floor — [[emRound]]'s
    * discipline, mirrored in the oracle). `nPrune = 0` returns the
    * vocab untouched. */
  private def pruneRound(occ: DataFrame, vocab: DataFrame,
                         nPrune: Int): DataFrame = {
    if (nPrune <= 0) return vocab
    val loss = pieceLoss(occ, vocab)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("loss_delta").asc, col("piece").asc)
    val toDrop = loss.filter(col("essential_i") === 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nPrune)
      .select("piece")
    val kept = vocab.join(toDrop, Seq("piece"), "left_anti")
    kept.crossJoin(broadcast(kept.agg(round(sum("p"), 6).as("tot"))))
      .select(col("piece"),
        greatest(round(col("p") / col("tot"), 6), lit(1e-6)).as("p"))
  }

  /** The CLOSED Kudo loop (r7 — VERDICT r6 ask #5): alternate EM and
    * loss-ranked pruning until the vocabulary reaches `targetSize`, the
    * way real SentencePiece training runs. `rounds` is FIXED (the
    * bpeTrain/kmeansTrain unroll pattern, so the DuckDB oracle replays
    * the chain statically); per round the prune count is
    * min(pruneStep, |vocab| − targetSize) — data-dependent but derived
    * from the vocab count in BOTH engines, so late rounds no-op once
    * the target is reached (and [[trainPruned]] with targetSize ≥
    * |seed| degenerates EXACTLY to [[train]], spec-pinned). Essential
    * pieces can leave the final size above target — coverage beats the
    * size target, as in SentencePiece. Per round: one lattice EM pass +
    * one loss pass, both at distinct-word grain; the (piece, p) state
    * carried between rounds is vocab-sized and localCheckpoint'd. The
    * per-round |vocab| count is a driver-side count of a vocab-sized
    * frame (bounded, the BPE merge-table posture). Returns surviving
    * (piece, seed_prob, prob). */
  def trainPruned(docs: DataFrame, maxPieceLen: Int = 4, vocabSize: Int = 60,
                  targetSize: Int = 40, pruneStep: Int = 8,
                  rounds: Int = 3): DataFrame = {
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val seed = seedVocabFrom(occ, vocabSize)
      .select(col("piece"), col("p"))
      .localCheckpoint()
    var vocab = seed
    for (_ <- 1 to rounds) {
      // lazy: em materializes at its own count() below, vocab at the
      // next round's em (or the caller's join) — r12, fewer round jobs
      val em = emRound(occ, vocab).localCheckpoint(false)
      val nPrune = math.max(0L,
        math.min(pruneStep.toLong, em.count() - targetSize)).toInt
      vocab = pruneRound(occ, em, nPrune).localCheckpoint(false)
    }
    seed.select(col("piece"), round(col("p"), 6).as("seed_prob"))
      .join(vocab.withColumnRenamed("p", "prob"), "piece")
  }

  /** One full-EM step: forward-backward expected piece counts
    * (corpus-count-weighted) and the renormalized next-iteration
    * probabilities. Returns one row per vocabulary piece. */
  def emStep(docs: DataFrame, maxPieceLen: Int = 4,
             vocabSize: Int = 60): DataFrame = {
    val occ = graft.ops.Checkpoints.ser(occurrences(words(docs), maxPieceLen))
    val vocab = seedVocabFrom(occ, vocabSize)
    // the per-piece p re-attaches from the vocab-sized broadcast AFTER
    // the aggregation
    val agg = expectedCounts(occ, vocab)
      .join(broadcast(vocab.select(col("piece"), col("p"))), "piece")
    agg.crossJoin(broadcast(agg.agg(round(sum("e"), 6).as("tot"))))
      .select(col("piece"), round(col("p"), 6).as("seed_prob"),
        col("e").as("expected_count"),
        round(col("e") / col("tot"), 6).as("new_prob"))
  }

  /** The E-step of [[emRound]] and [[emStep]]: expected piece counts
    * under `vocab` probabilities, as (piece, e) with e the 6dp-rounded
    * Σ ec (the repo float contract). The counts come straight off the
    * lattice rows: each es entry [i,j,p] IS one scored occurrence, and
    * its piece identity is the span substring (the exclEs pattern of
    * [[pieceLoss]]), so the occurrence table never re-joins the lattice
    * (r13). */
  private def expectedCounts(occ: DataFrame, vocab: DataFrame): DataFrame = {
    val len = length(col("word"))
    val lat = wordLattice(occ, vocab)
      .withColumn("alpha", alphaFold(col("es"), len))
      .withColumn("beta", betaFold(col("esb"), len))
      .withColumn("z", element_at(col("alpha"), len + 1))
    val e = col("e")
    lat
      .select(col("word"), col("wcount"), col("alpha"), col("beta"),
        col("z"), explode(col("es")).as("e"))
      .select(
        col("word").substr(e.getItem(1).cast("int") + 1,
          e.getItem(0).cast("int") - e.getItem(1).cast("int")).as("piece"),
        (col("wcount").cast("double") *
          element_at(col("alpha"), e.getItem(1).cast("int") + 1) * e.getItem(2) *
          element_at(col("beta"), e.getItem(0).cast("int") + 1) / col("z")).as("ec"))
      .groupBy("piece").agg(round(sum(col("ec")), 6).as("e"))
  }
}
