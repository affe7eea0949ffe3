package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{CurationGates, TextOps}
import graft.sim.Embeddings
import graft.mm.Multimodal

/** Training-data pipeline operators over the documents/embeddings tables,
  * driver-verified against DuckDB oracles that re-derive the identical
  * math (md5-based hashing keeps every value engine-independent).
  */
object TrainingOps extends OpsModule {

  /** Per-doc curation flags shared by td_filter_pipeline and td_funnel. */
  private def filterFlags(s: SparkSession, d: String) = {
    val dd = docs(s, d)
    val quality = TextOps.qualityScores(dd).select("doc_id", "quality_bucket")
    val lang = TextOps.langId(dd).select("doc_id", "lang_match")
    val canon = dd.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("canonical_doc_id"))
    val hashed = dd.select(col("doc_id"), md5(col("text")).as("h"))
      .join(canon, "h").select("doc_id", "canonical_doc_id")
    quality.join(lang, "doc_id").join(hashed, "doc_id")
      .withColumn("is_canonical",
        (col("doc_id") === col("canonical_doc_id")).cast("int"))
      .withColumn("keep",
        // gate predicates = the shared CurationGates definitions, the
        // same expressions CurationPipeline filters on (no drift)
        (CurationGates.quality && CurationGates.lang &&
          col("is_canonical") === 1).cast("int"))
      .select("doc_id", "quality_bucket", "lang_match", "canonical_doc_id",
        "is_canonical", "keep")
  }

  private def docs(s: SparkSession, d: String) = {
    graft.functions.GraftFunctions.register(s) // md5_prefix64 for TextOps
    Tables.documents(s, d)
  }
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: group on the content digest, keep canonical min id —
    // shuffles 16-byte hashes, never documents.
    "td_exact_dedup" -> ((s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("canonical_doc_id")),

    "td_token_stats" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        size(array_distinct(TextOps.tokens(col("text")))).as("n_distinct_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("n_regex_tokens"))
        .orderBy("doc_id")),

    "td_quality" -> ((s, d) =>
      TextOps.qualityScores(docs(s, d)).orderBy("doc_id")),

    "td_lang_id" -> ((s, d) =>
      TextOps.langId(docs(s, d)).orderBy("doc_id")),

    "td_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(docs(s, d)).orderBy("doc_id")),

    "td_minhash_sig" -> ((s, d) =>
      TextOps.minhashSignatures(docs(s, d)).orderBy("doc_id")),

    // length-bucketed batch assembly: similar-length docs dealt into
    // fixed-size batches in a salted deterministic order — the padding-
    // efficiency counterpart of td_pack; sub-bucket = the skew knob
    "td_length_buckets" -> ((s, d) =>
      TextOps.lengthBuckets(docs(s, d), bucketWidth = LbWidth,
        batchSize = LbBatch, subBuckets = LbSub).orderBy("doc_id")),

    // quantified padding economics: length-bucketed vs naive batching on
    // the same salted deal — the measured claim that bucketing pays
    "td_pad_waste" -> ((s, d) =>
      TextOps.paddingWaste(docs(s, d), bucketWidth = LbWidth,
        batchSize = LbBatch, subBuckets = LbSub).orderBy("strategy")),

    // the named Gopher rule gate (Rae et al. 2021 A.1.1), each rule's
    // signal exposed for curation audit; per-symbol 0.1 thresholds
    "txt_gopher" -> ((s, d) =>
      TextOps.gopherRules(docs(s, d)).orderBy("doc_id")),

    // the full Gopher REPETITION battery (ibid. "repetitious text"):
    // top n-gram char fractions (n=2..4) + duplicated n-gram char
    // fractions (n=5..10), each one row-local gram_runs call
    "txt_gopher_rep" -> ((s, d) =>
      TextOps.gopherRepetition(docs(s, d)).orderBy("doc_id")),

    // the COMPLETE verbatim Gopher gate: word-shape/symbol/stopword
    // rules AND the repetition battery, one keep/drop flag per doc
    "txt_gopher_full" -> ((s, d) => {
      val dd = docs(s, d)
      TextOps.gopherRules(dd).select(col("doc_id"), col("pass_gopher"))
        .join(TextOps.gopherRepetition(dd)
          .select(col("doc_id"), col("pass_gopher_rep")), "doc_id")
        .withColumn("pass_gopher_full",
          (col("pass_gopher") === 1 && col("pass_gopher_rep") === 1).cast("int"))
        .orderBy("doc_id")
    }),

    // C4 line-grain cleaning rules (Raffel et al. 2020 §2.2) — the
    // retained-line / lorem-ipsum / brace gate; span dedup is td_segment_dedup
    "txt_c4" -> ((s, d) =>
      TextOps.c4Rules(docs(s, d)).orderBy("doc_id")),

    "td_repetition" -> ((s, d) =>
      TextOps.repetitionSignals(docs(s, d)).orderBy("doc_id")),

    "td_pii_scrub" -> ((s, d) =>
      TextOps.scrubPii(docs(s, d)).orderBy("doc_id")),

    "td_token_budget" -> ((s, d) =>
      TextOps.tokenBudget(docs(s, d)).orderBy("doc_id")),

    "td_split" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.assignSplit().as("split"))
        .orderBy("doc_id")),

    // held-out LM eval: train-split unigram LM scores the val split with
    // OOV smoothing — generalization, not memorization; n_oov is the
    // drift signal between corpus versions
    "td_lm_holdout" -> ((s, d) =>
      TextOps.lmHoldout(docs(s, d)).orderBy("doc_id")),

    // one BPE training iteration: adjacent-symbol pair counts, the inner
    // loop of tokenizer training. The BPE trick is ORDER of operations:
    // aggregate the corpus to its word-frequency table FIRST (one shuffle,
    // output bounded by vocabulary), then explode each distinct word into
    // char pairs weighted by its frequency — pair work is O(vocab · word
    // length), independent of corpus size. At 100 TB the vocab table is
    // millions of rows while the corpus is billions; exploding the corpus
    // directly would shuffle three orders of magnitude more.
    "td_bpe_pairs" -> ((s, d) => {
      val words = TextOps.tokenized(docs(s, d))
        .select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .filter(length(col("word")) >= 2)
      words
        .select(col("word"), col("n"),
          explode(expr("sequence(1, length(word) - 1)")).as("i"))
        .select(expr("substring(word, i, 1)").as("sym_a"),
          expr("substring(word, i + 1, 1)").as("sym_b"), col("n"))
        .groupBy("sym_a", "sym_b").agg(sum("n").as("pair_count"))
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(30)
    }),

    // full BPE training loop — iteration count is a compile-time
    // constant, so the DuckDB oracle is the same loop UNROLLED into one
    // CTE triple per merge round (see duckBpeChain); BpeTrainSpec
    // additionally pins it against a sequential reference implementation
    "td_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(docs(s, d), nMerges = BpeMerges).orderBy("merge_rank")),

    "td_unigram_logprob" -> ((s, d) =>
      TextOps.unigramLogProb(docs(s, d)).orderBy("doc_id")),

    "td_bigram_logprob" -> ((s, d) =>
      TextOps.bigramLogProb(docs(s, d)).orderBy("doc_id")),

    "td_fuzzy_match" -> ((s, d) =>
      TextOps.fuzzyMatches(docs(s, d)).orderBy("doc_id_a", "doc_id_b")),

    // the (source, sig-prefix)-blocked scale path: block count grows with
    // the data, so pair work stays ~linear where source-only blocking is
    // quadratic (measured 47x at sf1 — see BENCH_SF1.json)
    "td_fuzzy_blocked" -> ((s, d) =>
      TextOps.fuzzyMatchesPrefixBlocked(docs(s, d))
        .orderBy("doc_id_a", "doc_id_b")),

    // alignment-based record linkage over the same blocked geometry,
    // scored by the native codegen'd jaro_winkler Expression
    "td_jw_match" -> ((s, d) =>
      TextOps.jaroWinklerMatches(docs(s, d))
        .orderBy("doc_id_a", "doc_id_b")),

    // sorted-neighborhood dedup: N·w pair work via distributed sort-rank
    // + exact rank-banded window join, JW-confirmed
    "td_snm_pairs" -> ((s, d) =>
      TextOps.snmPairs(docs(s, d)).orderBy("doc_id_a", "doc_id_b")),

    // entity resolution end-to-end: SNM pairs → connected components →
    // survivorship merge to one golden record per entity
    "td_golden_record" -> ((s, d) =>
      TextOps.goldenRecords(docs(s, d)).orderBy("canonical_id")),

    // cross-geometry dedup agreement: pair counts + intersections across
    // exact / LSH-Jaccard / SNM-JW — the threshold-tuning observability
    "td_dedup_report" -> ((s, d) =>
      TextOps.dedupAgreement(docs(s, d)).orderBy("metric")),

    "td_entropy" -> ((s, d) =>
      TextOps.tokenEntropy(docs(s, d)).orderBy("doc_id")),

    "td_substring_spans" -> ((s, d) =>
      TextOps.substringDupSpans(docs(s, d)).orderBy("doc_id")),

    // the REMOVAL counterpart: rewrite the corpus keeping one canonical
    // occurrence per duplicated 8-token span (ExactSubstr dedup)
    "td_substring_dedup" -> ((s, d) =>
      TextOps.substringDedup(docs(s, d)).orderBy("doc_id")),

    // the nightly-ingest DELTA form (r7): the doc_id%5==0 slice plays
    // the new batch, the rest the accumulated store — new docs' spans
    // dedup against the store's distinct span hashes plus the batch
    // itself; the accumulated corpus is never re-windowed
    "td_delta_substring" -> ((s, d) => {
      val dd = docs(s, d)
      val store = TextOps.spanHashStore(
        dd.filter(pmod(col("doc_id"), lit(5L)) =!= 0L))
      TextOps.deltaSubstringDedup(
        dd.filter(pmod(col("doc_id"), lit(5L)) === 0L), store)
        .orderBy("doc_id")
    }),

    // CCNet-posture boilerplate removal: drop lines whose hash appears
    // in > 3 distinct documents corpus-wide, rebuild the texts. The
    // synthetic corpus is single-line, so the query reflows each text
    // to 10-token lines first (deterministic, mirrored in the oracle);
    // at sf0.01 that yields 100+ genuinely cross-doc-duplicated lines
    "td_line_dedup" -> ((s, d) => {
      val t = TextOps.tokenized(docs(s, d))
      val reflowed = t.select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(0), ((size(col("toks")) - 1) / lit(10)).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10))))).as("text"))
      TextOps.lineDedup(reflowed, maxDocs = 3).orderBy("doc_id")
    }),

    // Count-min-sketch heavy hitters, verified like the other sketches
    // (HLL q20, GK q29): CMS guarantees estimate >= true count and, with
    // probability 1-delta, estimate <= true + eps*N. eps=0.001 on a
    // ~27k-token corpus gives slack ~27 — generous against the top
    // terms' thousands — and the fixed seed makes the sketch
    // deterministic, so the bound flag is stable and the oracle asserts
    // it literally true alongside the exact counts.
    "td_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      // three passes over the exploded terms (count, sketch build, exact
      // top-k) — materialize the explode once; everything downstream is
      // driver-side literals, so the cache is dropped before returning
      val terms = TextOps.tokenized(docs(s, d))
        .select(explode(col("toks")).as("term"))
        .persist()
      try {
        val total = terms.count()
        val cms = terms.stat.countMinSketch("term", 0.001, 0.99, 42)
        val top = terms.groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc).limit(10).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        top.toSeq.map { case (t, n) =>
          val est = cms.estimateCount(t)
          (t, n, est >= n && est <= n + (0.001 * total).toLong + 1)
        }.toDF("term", "n", "cms_within_bound").orderBy(col("n").desc, col("term").asc)
      } finally { terms.unpersist(); () }
    }),

    // sequence packing over a 64-token context budget; 8 buckets so the
    // block-sums path is exercised even at sf0.01
    "td_pack" -> ((s, d) =>
      TextOps.packSequences(docs(s, d), budget = 64, buckets = 8)
        .orderBy("doc_id")),

    // benchmark decontamination: docs sharing any 3-shingle with the
    // simulated eval slice (doc_id % 97 == 0), with the shared count
    "td_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.contaminationHits(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0), k = 3)
        .orderBy("doc_id")
    }),

    // the Bloom-prefiltered decontamination path: identical answer to the
    // broadcast-set path (exact confirm join), sketch-sized prefilter
    "td_bloom_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.decontaminateBloom(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0), k = 3)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // graded contamination: per-doc overlap FRACTION vs the benchmark
    // shingle set, where td_decontaminate drops on any single hit
    "td_overlap_frac" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.contaminationFraction(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0), k = 3)
        .orderBy("doc_id")
    }),

    // contamination OBSERVABILITY: the per-source rollup of graded
    // overlap — which corpus slice leaks benchmark content, at what rate
    // and how badly; the report a curation run publishes alongside drops
    "td_contamination_report" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.contaminationFraction(
          all.filter(col("doc_id") % 97 =!= 0),
          all.filter(col("doc_id") % 97 === 0), k = 3)
        .join(all.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("overlap_frac") >= ContamReportThreshold).cast("long"))
            .as("n_contaminated"),
          round(avg("overlap_frac"), 6).as("mean_overlap"),
          round(max("overlap_frac"), 6).as("max_overlap"))
        .orderBy("source")
    }),

    // DSIR importance weights: log-ratio of hashed-unigram likelihoods,
    // target = the benchmark slice, raw = the rest of the corpus
    "td_dsir" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.dsirWeights(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    // C4-style global segment dedup: cross-corpus boilerplate spans
    // removed from every document, survivors reassembled in order
    "td_segment_dedup" -> ((s, d) =>
      TextOps.segmentDedup(docs(s, d)).orderBy("doc_id")),

    // temperature-scaled source mixture weights (tau = 0.5)
    "td_temperature_mix" -> ((s, d) =>
      TextOps.temperatureMixture(docs(s, d)).orderBy("source")),

    // Kneser-Ney-smoothed bigram LM scoring (continuation back-off)
    "td_kneser_ney" -> ((s, d) =>
      TextOps.kneserNeyLogProb(docs(s, d)).orderBy("doc_id")),

    // CCNet perplexity head/middle/tail per language — broadcast tertile
    // cutoffs, never a per-doc ntile window over the corpus
    "td_ppl_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(docs(s, d)).orderBy("doc_id")),

    // soft dedup: weight near-dup cluster members by 1/|cluster| instead
    // of dropping them — composes the scale-safe LSH dedup path
    "td_softdedup" -> ((s, d) =>
      TextOps.softDedupWeights(docs(s, d)).orderBy("doc_id")),

    // curriculum ordering: global easy→hard ordinal with salted
    // intra-stage shuffle, built from shard-ranks + broadcast offsets
    // (never a single-partition corpus window)
    "td_curriculum" -> ((s, d) =>
      TextOps.curriculumOrder(docs(s, d)).orderBy("doc_id")),

    // DoReMi-style difficulty reweighting — the data-mixing family's
    // model-loss axis (temperature = size, DSIR = target-likeness)
    "td_doremi" -> ((s, d) =>
      TextOps.doremiWeights(docs(s, d)).orderBy("source")),

    // epoch materialization: mixture epoch factors → reproducible per-doc
    // copy counts (floor + hash-fraction), E[n_copies] = rep
    "td_epoch_plan" -> ((s, d) =>
      TextOps.epochMaterialize(docs(s, d)).orderBy("doc_id")),

    // winnowing fingerprints (MOSS scheme) summarized per doc
    "td_winnow" -> ((s, d) =>
      TextOps.winnowFingerprints(docs(s, d)).orderBy("doc_id")),

    // trained model-based quality filter: batch-GD logistic regression on
    // hashed token features — the fixed 3-step schedule unrolls into a
    // DuckDB CTE chain (see duckLogregChain), so the trained scorer is
    // oracle-checked end to end; ClassifierSpec additionally pins it
    // against a sequential reference and exercises deeper schedules
    "td_quality_logreg" -> ((s, d) => {
      val dd = docs(s, d)
      // 3 iterations: the loss curve flattens by then on this corpus, and
      // the query demonstrates the operator
      val model = graft.text.Classifier.logregTrain(dd, col("lang") === "en",
        buckets = LogregBuckets, iters = LogregIters, lr = LogregLr)
      graft.text.Classifier.logregScore(dd, model)
        .join(dd.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
        .orderBy("doc_id")
    }),

    // ROC AUC without a corpus sort: distinct-score-value table + midrank
    // accumulation (the window is value-table-sized, documented bound)
    "td_auc" -> ((s, d) =>
      graft.text.Classifier.auc(docs(s, d), col("n_chars"),
        col("lang") === "en")),

    // reliability curve of the stopword-ratio signal vs the lang label
    "td_calibration" -> ((s, d) => {
      val dd = docs(s, d)
      graft.text.Classifier.calibration(
        TextOps.qualityScores(dd).join(dd.select("doc_id", "lang"), "doc_id"),
        col("stopword_ratio"), col("lang") === "en")
        .orderBy("bin")
    }),

    "td_near_dup_pairs" -> ((s, d) =>
      TextOps.nearDupPairs(docs(s, d)).orderBy("doc_id_a", "doc_id_b")),

    "td_lsh_candidates" -> ((s, d) =>
      TextOps.lshCandidatePairs(docs(s, d)).orderBy("doc_id_a", "doc_id_b")),

    // nightly-ingest dedup: banded-LSH candidates between the new slice
    // (doc_id % 10 == 0 stands in for "tonight's batch") and the settled
    // corpus — old×old pairs excluded by construction, so ingest cost
    // tracks the delta, not a full-corpus dedup restart
    "td_delta_dedup" -> ((s, d) =>
      TextOps.deltaNearDupPairs(docs(s, d), pmod(col("doc_id"), lit(10L)) === 0L)
        .orderBy("doc_id_new", "doc_id_old")),

    // snapshot delta audit: per-source added/removed/changed/unchanged
    // between a simulated previous corpus version (1-in-7 rows absent =
    // added since; 1-in-5 texts suffixed = changed since; 1-in-11 ghost
    // rows under shifted ids = removed since) and the current table
    "td_corpus_diff" -> ((s, d) => {
      val cur = docs(s, d)
      val prev = cur.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5L)) === 0L,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(cur.filter(pmod(col("doc_id"), lit(11L)) === 0L)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      TextOps.snapshotDiff(prev, cur).orderBy("source")
    }),

    // the banding planner: the (bands, rows/band) S-curve table that
    // picks the LSH deployment point for a target Jaccard threshold
    "td_lsh_plan" -> ((s, _) =>
      TextOps.lshBandingPlan(s).orderBy("bands", "jaccard")),

    // the scale-knob advisor: every corpus-derived pair-operator knob
    // (ScaleKnobs — the chooser-table contract made inspectable) as a
    // row set from the two corpus counts; pure integer arithmetic, so
    // the DuckDB oracle replays it exactly. Two bounded count() jobs,
    // result is a LocalRelation — nothing shuffles
    "td_scale_knobs" -> ((s, d) => {
      import s.implicits._
      val nd = docs(s, d).count()
      val ne = embs(s, d).count()
      graft.ops.ScaleKnobs.advise(nd, ne)
        .toDF("knob", "input_n", "value", "holds").orderBy("knob")
    }),

    // SentencePiece-style unigram LM tokenizer (Kudo 2018): seed
    // vocabulary by substring frequency (+ all chars for coverage) ...
    "td_unigram_vocab" -> ((s, d) =>
      graft.text.UnigramLm.seedVocab(docs(s, d))
        .select(col("piece"), col("cnt"), round(col("p"), 6).as("prob"))
        .orderBy("piece")),

    // ... per-word Viterbi + marginal segmentation log-likelihoods
    // (prob-space lattice folds, log only at the end) ...
    "td_unigram_score" -> ((s, d) =>
      graft.text.UnigramLm.scoreWords(docs(s, d)).orderBy("word")),

    // ... and one full-EM step: forward-backward expected piece counts
    // renormalized into next-iteration probabilities
    "td_unigram_em" -> ((s, d) =>
      graft.text.UnigramLm.emStep(docs(s, d)).orderBy("piece")),

    // ... and the full 3-round EM training loop (piece set fixed,
    // probs 6dp-pinned per round - the bpeTrain unroll pattern)
    "td_unigram_train" -> ((s, d) =>
      graft.text.UnigramLm.train(docs(s, d)).orderBy("piece")),

    // ... plus the user-facing ENCODE: each word's Viterbi segmentation
    // with deterministic backtracking (ties to the lowest start)
    "td_unigram_segment" -> ((s, d) =>
      graft.text.UnigramLm.segmentWords(docs(s, d)).orderBy("word")),

    // ... and the PRUNE step (the other half of Kudo's algorithm):
    // per-piece likelihood-loss deltas from q-filtered lattice folds,
    // bottom-15 non-essential multi-char pieces marked pruned
    "td_unigram_prune" -> ((s, d) =>
      graft.text.UnigramLm.pruneVocab(docs(s, d)).orderBy("piece")),

    // ... and the CLOSED Kudo loop (r7): alternate EM with loss-ranked
    // pruning until the vocabulary reaches the target size — per round
    // min(pruneStep, |vocab| − target) non-essential pieces drop, so
    // late rounds no-op at the target; the oracle unrolls EM+prune
    // blocks per round (the td_unigram_train pattern)
    "td_unigram_full" -> ((s, d) =>
      graft.text.UnigramLm.trainPruned(docs(s, d),
        targetSize = UnigramFullTarget, pruneStep = UnigramFullStep,
        rounds = UnigramFullRounds).orderBy("piece")),

    // the COMPOSED curation pipeline, hash-checked end to end: runs
    // CurationPipeline.run (5 gates → exact dedup → LSH near-dedup →
    // decontamination) on the 97-split and returns its audit frame;
    // the oracle re-derives every stage count in one DuckDB CTE chain
    "td_curation_audit" -> ((s, d) => {
      val dd = docs(s, d)
      val bench = dd.filter(pmod(col("doc_id"), lit(97L)) === 0L)
      val corpus = dd.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
      val r = graft.text.CurationPipeline.run(corpus, bench)
      // the audit frame is a local relation of already-collected counts,
      // so releasing the stage caches first is safe
      r.unpersist()
      r.audit.orderBy("stage")
    }),

    "td_simhash" -> ((s, d) =>
      TextOps.simhash16(docs(s, d)).orderBy("doc_id")),

    // candidate-generation quality: of the exhaustive (source-blocked,
    // token-jaccard >= 0.5) near-dup pairs, how many does banded shingle
    // LSH surface — the text-side counterpart of emb_ann_recall, the
    // number that justifies replacing the quadratic path at scale
    "td_lsh_recall" -> ((s, d) => {
      // r13 (guide §1.2/§2.4): `truth` and `cand` each feed TWO legs of
      // the final one-row report (their own count + the hit semi-join).
      // Unchecked, Catalyst executes each corpus-sized pair pipeline
      // TWICE inside the one action (ReuseExchange cannot fire across
      // the differently-shaped legs) — profiled at ~60 of the query's
      // ~130 task-seconds, and the duplicated concurrent broadcast
      // builds were the memory-pressure hypersensitivity BENCH_r12's
      // 46.7 s blowup rode on. EAGER checkpoints (not lazy: the three
      // legs materialize concurrently under one action, and lazy local
      // checkpoints can race into recomputing exactly the duplicated
      // work being removed). The truth pair set is superlinear in block
      // size (quadratic within source blocks — 35.5 MB deserialized at
      // sf0.1, StorageProbe), so both cuts store SERIALIZED (guide §5).
      // Output identical.
      val truth = graft.ops.Checkpoints.ser(TextOps.nearDupPairs(docs(s, d))
        .select("doc_id_a", "doc_id_b"))
      val cand = graft.ops.Checkpoints.ser(TextOps.lshCandidatePairs(docs(s, d))
        .select("doc_id_a", "doc_id_b"))
      val hit = truth.join(cand, Seq("doc_id_a", "doc_id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_true"), 6))
    }),

    "td_dedup_clusters" -> ((s, d) =>
      TextOps.dedupClusters(TextOps.nearDupPairs(docs(s, d))).orderBy("doc_id")),

    // the end-to-end SCALE-SAFE dedup: banded LSH candidates (bounded
    // fan-in, ~1.9x for 10x data in BENCH_SF1) verified at jaccard >= 0.5,
    // resolved to clusters — no fixed-cardinality block key anywhere,
    // unlike td_dedup_clusters' source-blocked pair generation
    "td_lsh_clusters" -> ((s, d) =>
      TextOps.dedupClusters(
        TextOps.lshCandidatePairs(docs(s, d)).filter(col("jaccard") >= 0.5))
        .orderBy("doc_id")),

    "td_tfidf_top_term" -> ((s, d) =>
      TextOps.topTfidfTerm(docs(s, d)).orderBy("doc_id")),

    // Okapi BM25 over a fixed query-term set (mixed rare/common df) — the
    // keyword-retrieval half of hybrid search; see TextOps.bm25TopK
    "td_bm25" -> ((s, d) =>
      TextOps.bm25TopK(docs(s, d), Bm25Terms)),

    // late-interaction (ColBERT maxsim) retrieval: per-term sims computed
    // once at VOCABULARY grain, docs only join and max
    "td_late_interaction" -> ((s, d) =>
      TextOps.lateInteraction(docs(s, d), Bm25Terms)),

    // per-source token-budget sampler: admit in salted-hash order until
    // the stratum's cumulative token count hits the budget
    "td_budget_sample" -> ((s, d) =>
      TextOps.budgetSample(docs(s, d), budgetTokens = 800)
        .orderBy("doc_id")),

    // contrastive hard negatives: nearest cross-label vectors per query
    "emb_hard_negatives" -> ((s, d) =>
      Embeddings.hardNegatives(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "neg_rank")),

    // diverse exemplar selection: greedy MMR over the top-20 ANN pool,
    // k=5 unrolled steps on rounded scores (bit-reproducible greedy path)
    "emb_mmr" -> ((s, d) =>
      Embeddings.mmrSelect(embs(s, d), col("vec_id") < 5,
        k = MmrK, pool = MmrPool, lamTenths = MmrLamTenths)
        .orderBy("query_id", "mmr_rank")),

    // semantic decontamination: corpus vectors flagged by max cosine to
    // the (broadcast) eval set — catches paraphrased eval leakage that
    // exact/shingle decontamination misses; threshold shared with oracle
    "emb_decontaminate" -> ((s, d) =>
      Embeddings.semanticDecontaminate(embs(s, d), col("vec_id") < 5,
        threshold = SemDecontThreshold).orderBy("vec_id")),

    // embedding-space outlier audit: the 3 members farthest (squared L2)
    // from their own cell centroid — mislabel/noise candidates per cluster
    "emb_outliers" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("label").as("cell"),
        Embeddings.asDouble(col("embedding")).as("emb"))
      val w = Window.partitionBy("cell").orderBy(col("d2").desc, col("vec_id").asc)
      e.join(broadcast(Embeddings.centroids(embs(s, d))), "cell")
        .withColumn("d2",
          (Embeddings.dot(col("emb"), col("emb")) -
            lit(2.0) * Embeddings.dot(col("emb"), col("cemb"))) +
            Embeddings.dot(col("cemb"), col("cemb")))
        .withColumn("far_rank", row_number().over(w))
        .filter(col("far_rank") <= 3)
        .select(col("cell"), col("vec_id"), round(col("d2"), 6).as("dist2"),
          col("far_rank"))
        .orderBy("cell", "far_rank")
    }),

    // distributed PCA power-iteration step (mat-vec without a matrix)
    "emb_pca_power" -> ((s, d) =>
      Embeddings.pcaPowerStep(embs(s, d))),

    // hybrid retrieval: keyword top-20 (shared-distinct-token overlap) and
    // vector top-20 (brute cosine) fused by Reciprocal Rank Fusion; docs
    // and embeddings share the id space, so the legs join on it
    "emb_hybrid_rrf" -> ((s, d) => {
      val kw = graft.sim.HybridSearch.keywordTopK(docs(s, d), col("doc_id") < 5)
      val vec = Embeddings.knnBruteForce(embs(s, d), col("vec_id") < 5, k = 20)
      graft.sim.HybridSearch.rrfFuse(kw, vec).orderBy("query_id", "fused_rank")
    }),

    // one-row corpus health rollup: volume, vocabulary, dedup ratio
    "td_corpus_stats" -> ((s, d) => {
      val dd = docs(s, d)
      TextOps.tokenized(dd)
        .select(col("doc_id"), col("lang"), col("text"), size(col("toks")).as("n_toks"),
          explode(col("toks")).as("term"))
        .agg(
          countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct("term").as("vocabulary"),
          countDistinct(md5(col("text"))).as("n_unique_contents"),
          countDistinct("lang").as("n_langs"))
        .withColumn("dup_ratio",
          round(lit(1.0) - col("n_unique_contents").cast("double") /
            col("n_docs").cast("double"), 6))
    }),

    "td_normalize" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextOps.normalized(col("text")).as("norm_text"),
        md5(TextOps.normalized(col("text"))).as("norm_hash"))
        .orderBy("doc_id")),

    "td_chunk" -> ((s, d) =>
      TextOps.chunked(docs(s, d)).orderBy("doc_id", "chunk_idx")),

    // corpus mixture rebalancing: down-sample every source toward the
    // smallest one. Rates are integer percentages from integer division
    // ((100·minN) div nᵢ — exact in any engine), applied with the same
    // md5-bucket filter as td_hash_sample, so the mixture is reproducible
    // across runs/retries/engines. Output is the per-source audit
    // (planned rate vs achieved kept count), integers only.
    "td_mixture_sample" -> ((s, d) => {
      val dd = docs(s, d)
      val counts = dd.groupBy("source").agg(count(lit(1)).as("n_docs"))
      // the smallest source's size rides along as a broadcast 1-row agg
      // (NOT a separate .first() job — that would scan the corpus twice);
      // both branches hang off `counts`, so the aggregation's exchange is
      // computed once and reused. Integer math is unchanged: 100·minN is
      // exact in long, div is integer division in both engines.
      val minAgg = counts.agg(min("n_docs").as("_min_n"))
      val rates = counts.crossJoin(broadcast(minAgg))
        .withColumn("rate_pct", expr("(100 * _min_n) div n_docs"))
        .drop("_min_n")
      dd.join(broadcast(rates), "source")
        .withColumn("bucket",
          TextOps.md5Long(concat(lit("mix:"), col("doc_id").cast("string"))) % 100)
        .groupBy("source", "n_docs", "rate_pct")
        .agg(sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L))
          .as("n_kept"))
        .orderBy("source")
    }),

    // distribution shift per source: KL(P_source ‖ P_corpus) over unigram
    // distributions — the standard "which slice diverges from the mixture"
    // diagnostic before reweighting. All probabilities are integer-count
    // ratios; one vocabulary-keyed join tree, corpus total inlined.
    "td_source_kl" -> ((s, d) => {
      val terms = TextOps.tokenized(docs(s, d))
        .select(col("source"), explode(col("toks")).as("term"))
      val perSource = terms.groupBy("source", "term").agg(count(lit(1)).as("c_st"))
      // corpus counts derive FROM the per-source aggregation (sum of the
      // partials), so the exploded corpus is aggregated once and both
      // consumers share the shuffle via exchange reuse — td_tfidf's trick
      val corpus = perSource.groupBy("term").agg(sum("c_st").as("c_t"))
      // corpus token total attached as a broadcast 1-row agg instead of a
      // separate .first() job that would re-tokenize the whole corpus; it
      // derives from `corpus`, so the term aggregation is shared via
      // exchange reuse. Double division is bit-identical either way.
      val totalAgg = corpus.agg(sum("c_t").cast("double").as("_total"))
      val sourceTotals = perSource.groupBy("source").agg(sum("c_st").as("t_s"))
      perSource
        .join(broadcast(sourceTotals), "source")
        .join(corpus, "term")
        .crossJoin(broadcast(totalAgg))
        .withColumn("p_s", col("c_st") / col("t_s"))
        .withColumn("p_c", col("c_t") / col("_total"))
        .groupBy("source")
        .agg(sum("c_st").as("n_tokens"), count(lit(1)).as("vocab"),
          round(sum(col("p_s") * log(2.0, col("p_s") / col("p_c"))), 6)
            .as("kl_bits"))
        .orderBy("source")
    }),

    // deterministic fixed-SIZE per-stratum sample: rank docs inside each
    // source by a salted hash and keep the n smallest — the reservoir-free
    // distributed "take exactly n per stratum" (td_hash_sample's rate-based
    // sibling). Hash ranking is retry/partitioning-stable; the window
    // shuffles one stratum per partition, and beyond memory the same
    // semantics drop into the k-bounded TopK Aggregator (emb_knn_topk's
    // shape).
    "td_stratified_topn" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("rk_hash").asc, col("doc_id").asc)
      docs(s, d)
        .withColumn("rk_hash",
          TextOps.md5Long(concat(lit("strat:"), col("doc_id").cast("string"))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("doc_id")
    }),

    "td_hash_sample" -> ((s, d) => {
      val rates = (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 50 else 20)).toMap
      docs(s, d)
        .withColumn("sample_bucket",
          TextOps.md5Long(concat(lit("sample:"), col("doc_id").cast("string"))) % 100)
        .filter(TextOps.hashSample(rates))
        .select("doc_id", "source", "sample_bucket")
        .orderBy("doc_id")
    }),

    "emb_near_dup" -> ((s, d) =>
      Embeddings.cosineNearDup(embs(s, d)).orderBy("vec_id_a", "vec_id_b")),

    // embedding-cosine near-dup resolved to clusters — the vector-space
    // counterpart of td_lsh_clusters (same distributed connected-
    // components resolution; cell blocking bounds the pair join)
    "emb_dedup_clusters" -> ((s, d) =>
      TextOps.dedupClusters(
        Embeddings.cosineNearDup(embs(s, d))
          .select(col("vec_id_a").as("doc_id_a"), col("vec_id_b").as("doc_id_b")))
        .select(col("doc_id").as("vec_id"), col("canonical_id"))
        .orderBy("vec_id")),

    // SemDeDup: semantic dedup INSIDE k-means cells, survivor = least
    // centroid-similar (most atypical) member — vs emb_near_dup (raw
    // pairs) and emb_dedup_clusters (connected components), this is the
    // paper's keep/drop decision itself. Cells come from kmeansCells —
    // the knob that keeps within-cell pair work bounded as N grows —
    // DERIVED from the corpus count (ScaleKnobs contract; the floor
    // resolves to the declared 16 at every oracle sf, which is what the
    // static oracle SQL assumes)
    "emb_semdedup" -> ((s, d) => {
      val e = embs(s, d)
      val cells = graft.ops.ScaleKnobs.kmeansCells(e.count(),
        floor = SemDedupCells)
      val c1 = graft.ops.ScaleKnobs.kmeansCoarse(cells)
      val c2 = graft.ops.ScaleKnobs.kmeansCoarse2(cells)
      // past the coarse floor the scored frame persists as cell-bucketed
      // postings and the rank+pair plan runs with ZERO Exchange — the
      // winner of the r9 forced-evaluation A/B (row-identical output,
      // SemDedupScaleSpec); oracle sfs stay on the historical exact plan.
      // The tmpdir location is a BASE: semDedupBucketed suffixes path and
      // table uniquely per invocation and drops both after the result
      // materializes, so concurrent sessions sharing this tmpdir cannot
      // clobber each other (VERDICT r9 #4)
      val out =
        if (graft.ops.ScaleKnobs.semDedupPostings(cells))
          Embeddings.semDedupBucketed(s, e,
            s"${System.getProperty("java.io.tmpdir")}/graft_semdedup_postings",
            threshold = SemDedupThreshold, nCells = cells,
            nCoarse = c1, nCoarse2 = c2)
        else
          Embeddings.semDedup(e, threshold = SemDedupThreshold,
            nCells = cells, nCoarse = c1, nCoarse2 = c2)
      out.orderBy("vec_id")
    }),

    // the r10 exact-copy collapse, ORACLE-checked: same semantics, same
    // oracle SQL as emb_semdedup, because the collapse is an exact
    // rewrite (pair pass on one representative per distinct (cell, emb)
    // value, copies expanded back as dups of their earliest copy) — the
    // hash-match against the UNCOLLAPSED oracle chain IS the proof that
    // representative-only pair marking changes nothing. This is the
    // plan that held the fifth decade (BENCH_SF1000_EMB.json)
    "emb_semdedup_collapsed" -> ((s, d) => {
      val e = embs(s, d)
      val cells = graft.ops.ScaleKnobs.kmeansCells(e.count(),
        floor = SemDedupCells)
      Embeddings.semDedup(e, threshold = SemDedupThreshold, nCells = cells,
        nCoarse = graft.ops.ScaleKnobs.kmeansCoarse(cells),
        nCoarse2 = graft.ops.ScaleKnobs.kmeansCoarse2(cells),
        collapseExact = true).orderBy("vec_id")
    }),

    // the COMPOSED vector-side curation pipeline, hash-checked end to
    // end (VERDICT r9 #5 — the embedding family's td_curation_audit):
    // exact dedup → SemDeDup keep/drop → semantic decontamination →
    // split, one audit frame; the oracle re-derives every stage count
    // in one DuckDB CTE chain assembled from the member oracles
    "emb_curation_audit" -> ((s, d) => {
      val r = graft.sim.VectorCurationPipeline.run(embs(s, d),
        col("vec_id") < 5, semThreshold = SemDedupThreshold,
        cellsFloor = SemDedupCells, decontThreshold = SemDecontThreshold)
      // the audit frame is a local relation of already-collected counts,
      // so releasing the stage caches first is safe
      r.unpersist()
      r.audit.orderBy("stage")
    }),

    "emb_knn_brute" -> ((s, d) =>
      Embeddings.knnBruteForce(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    // FILTERED vector search: the corpus is constrained by a document
    // predicate BEFORE the similarity join (vector-DB "filtered search").
    // The metadata join shrinks the scanned corpus up front — an equi
    // join on the id, co-partitionable/bucketable at scale — instead of
    // post-filtering top-k results (which under-fills k when the filter
    // is selective). Queries come from the filtered corpus too.
    "emb_filtered_knn" -> ((s, d) => {
      val keep = docs(s, d).filter(length(col("text")) >= 200)
        .select(col("doc_id"))
      val filtered = embs(s, d)
        .join(keep, col("vec_id") === col("doc_id")).drop("doc_id")
      Embeddings.knnBruteForce(filtered, col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")
    }),

    "emb_knn_topk" -> ((s, d) =>
      Embeddings.knnTopKAgg(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    // Matryoshka two-stage: prefix-dim scan -> candidate cap -> full-dim
    // rerank (4x fewer FLOPs on the scan at 64->16 dims)
    "emb_mrl_rerank" -> ((s, d) =>
      Embeddings.mrlSearch(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "mrl_rank")),

    "emb_ivf_knn" -> ((s, d) =>
      Embeddings.ivfSearch(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    "emb_lsh_knn" -> ((s, d) =>
      Embeddings.lshSearch(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    "emb_ivf_nprobe2" -> ((s, d) =>
      Embeddings.ivfSearch(embs(s, d), col("vec_id") < 5, k = 5, nprobe = 2)
        .orderBy("query_id", "knn_rank")),

    "emb_lsh_multiprobe" -> ((s, d) =>
      Embeddings.lshSearchMultiProbe(embs(s, d), col("vec_id") < 5, maxFlips = 1)
        .orderBy("query_id", "knn_rank")),

    // graph ANN: one NN-descent round over the LSH-seeded kNN graph, with
    // sampled brute-force recall for both stages — the O(N·k²)-per-round
    // graph-construction path that replaces bucket scans at billion-vector
    // scale (see Embeddings.nnDescentRecall for the full shape)
    "emb_nndescent" -> ((s, d) =>
      Embeddings.nnDescentRecall(embs(s, d)).orderBy("stage")),

    "emb_quant_knn" -> ((s, d) =>
      Embeddings.quantizedKnn(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    "emb_pq_codes" -> ((s, d) =>
      Embeddings.pqCodes(embs(s, d)).orderBy("vec_id")),

    // IVF-PQ composed: probe 2 cells, ADC-score only their codes — the
    // production ANN serving layout (cell pruning x 4-byte codes)
    "emb_ivfpq_knn" -> ((s, d) =>
      Embeddings.ivfPqSearch(embs(s, d), col("vec_id") < 5, k = 5, nprobe = 2)
        .orderBy("query_id", "knn_rank")),

    "emb_pq_knn" -> ((s, d) =>
      Embeddings.pqSearch(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id", "knn_rank")),

    "emb_quantize" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"),
        Embeddings.quantizeInt8(Embeddings.asDouble(col("embedding"))).as("qz"))
      e.select(
        col("vec_id"), col("qz.scale").as("scale"),
        element_at(col("qz.q"), 1).as("q_0"), element_at(col("qz.q"), 2).as("q_1"),
        element_at(col("qz.q"), 3).as("q_2"), element_at(col("qz.q"), 4).as("q_3"),
        aggregate(col("qz.q"), lit(0L), (a, v) => a + v).as("q_sum"))
        .orderBy("vec_id")
    }),

    "td_term_topk" -> ((s, d) =>
      TextOps.tokenized(docs(s, d)).select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(20)),

    "td_pmi_pairs" -> ((s, d) =>
      TextOps.pmiPairs(docs(s, d))),

    // the end-to-end training-data filter: quality tier + language match +
    // exact-dedup canonicality composed into one keep decision
    "td_filter_pipeline" -> ((s, d) => filterFlags(s, d).orderBy("doc_id")),

    // curation funnel: how many docs survive each cumulative stage —
    // the observability view of the same flags (one aggregation pass,
    // stages unpivoted from a single result row)
    "td_funnel" -> ((s, d) => {
      val f = filterFlags(s, d)
      f.agg(
        count(lit(1)).as("n_input"),
        sum(CurationGates.lang.cast("long")).as("n_lang"),
        sum(when(CurationGates.lang && CurationGates.quality, 1L)
          .otherwise(0L)).as("n_quality"),
        sum(col("keep").cast("long")).as("n_keep"))
        .select(explode(array(
          struct(lit(0).as("stage_idx"), lit("input").as("stage"),
            col("n_input").as("n_docs")),
          struct(lit(1).as("stage_idx"), lit("lang").as("stage"),
            col("n_lang").as("n_docs")),
          struct(lit(2).as("stage_idx"), lit("quality").as("stage"),
            col("n_quality").as("n_docs")),
          struct(lit(3).as("stage_idx"), lit("dedup").as("stage"),
            col("n_keep").as("n_docs")))).as("s"))
        .select("s.stage_idx", "s.stage", "s.n_docs")
        .orderBy("stage_idx")
    }),

    "emb_cluster_stats" -> ((s, d) =>
      Embeddings.clusterStats(embs(s, d)).orderBy("cell")),

    "emb_kmeans_step" -> ((s, d) =>
      Embeddings.kmeansAssign(embs(s, d)).orderBy("vec_id")),

    // full Lloyd's loop from the deterministic seed — the training pass
    // behind every derived cell; fixed iteration count unrolls into the
    // DuckDB oracle like the BPE/logreg chains. Cell count derived from
    // the corpus (ScaleKnobs; floor = declared 16 at oracle sfs); the
    // assign pass is bounded by the two r6-decade knobs — sampled
    // training (iterations off-corpus) + two-level coarse routing
    // (N·2·√cells, not N·cells) — both of which floor to the historical
    // exhaustive full-corpus loop at oracle sfs, so the static oracle
    // chain stays bit-exact
    "emb_kmeans_train" -> ((s, d) => {
      val e = embs(s, d)
      val n = e.count()
      val cells = graft.ops.ScaleKnobs.kmeansCells(n, floor = KmeansCells)
      Embeddings.kmeansTrainSampled(e, nCells = cells, iters = KmeansIters,
        sampleMod = graft.ops.ScaleKnobs.kmeansSampleMod(n, cells),
        nCoarse = graft.ops.ScaleKnobs.kmeansCoarse(cells),
        nCoarse2 = graft.ops.ScaleKnobs.kmeansCoarse2(cells)).orderBy("vec_id")
    }),

    // per-round convergence telemetry of the same loop: mean assigned-
    // centroid cosine rises, moved-vector count falls — the signal that
    // picks the iteration count and schedules index refreshes (under
    // sampled training the telemetry follows the sample, which is what
    // the iteration decision is made on)
    "emb_kmeans_quality" -> ((s, d) => {
      val e = embs(s, d)
      val n = e.count()
      val cells = graft.ops.ScaleKnobs.kmeansCells(n, floor = KmeansCells)
      Embeddings.kmeansQuality(e, nCells = cells, iters = KmeansIters,
        sampleMod = graft.ops.ScaleKnobs.kmeansSampleMod(n, cells),
        nCoarse = graft.ops.ScaleKnobs.kmeansCoarse(cells),
        nCoarse2 = graft.ops.ScaleKnobs.kmeansCoarse2(cells)).orderBy("round")
    }),

    "emb_silhouette" -> ((s, d) =>
      Embeddings.silhouette(embs(s, d)).orderBy("cell")),

    "td_lang_confusion" -> ((s, d) =>
      TextOps.langId(docs(s, d))
        .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted_lang")),

    // vocabulary coverage of the held-out splits by the train split — the
    // OOV-rate eval that catches a train/eval distribution break before a
    // tokenizer or LM does. Train vocabulary is a distinct-term set
    // (broadcastable at vocab scale, never corpus scale).
    "td_split_coverage" -> ((s, d) => {
      val terms = TextOps.tokenized(docs(s, d))
        .select(col("doc_id"), TextOps.assignSplit().as("split"),
          explode(array_distinct(col("toks"))).as("term"))
      val trainVocab = terms.filter(col("split") === "train")
        .select("term").distinct()
      terms.filter(col("split") =!= "train")
        .join(trainVocab.withColumn("in_train", lit(1)), Seq("term"), "left")
        .groupBy("split")
        .agg(countDistinct("term").as("n_terms"),
          countDistinct(when(col("in_train") === 1, col("term")))
            .as("n_covered"))
        .withColumn("coverage", round(
          col("n_covered").cast("double") / col("n_terms"), 6))
        .orderBy("split")
    }),

    // the evaluation loop of the ANN story: recall@5 of the IVF probe
    // against exact brute force, per query — an approximate index you
    // can't measure is an index you can't trust
    // recall@5 of the Matryoshka prefix-scan path vs the exact answer —
    // the quality dial for the prefix/candidate trade: a 16-dim scan with
    // only 20 candidates reranked
    "emb_mrl_recall" -> ((s, d) => {
      val qf = col("vec_id") < 5
      val brute = Embeddings.knnBruteForce(embs(s, d), qf, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val mrl = Embeddings.mrlSearch(embs(s, d), qf,
          prefixDims = 16, candidates = 20, k = 5)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      brute.join(mrl,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left")
        .groupBy("query_id")
        .agg(round(sum(when(col("n2").isNotNull, 1).otherwise(0)) /
          count(lit(1)).cast("double"), 6).as("recall_at_5"))
        .orderBy("query_id")
    }),

    "emb_ann_recall" -> ((s, d) => {
      val qf = col("vec_id") < 5
      val brute = Embeddings.knnBruteForce(embs(s, d), qf, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Embeddings.ivfSearch(embs(s, d), qf, k = 5, nprobe = 2)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      brute.join(ivf,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left")
        .groupBy("query_id")
        .agg(round(sum(when(col("n2").isNotNull, 1).otherwise(0)) /
          count(lit(1)).cast("double"), 6).as("recall_at_5"))
        .orderBy("query_id")
    }),

    // the IVF recall/latency DIAL as data: micro-averaged recall@5 per
    // nprobe — the curve an operator reads before picking the knob
    // (scanned fraction ≈ nprobe/|cells| buys the recall shown)
    "emb_recall_curve" -> ((s, d) => {
      val qf = col("vec_id") < 5
      val brute = Embeddings.knnBruteForce(embs(s, d), qf, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      RecallNprobes.map { np =>
        val ivf = Embeddings.ivfSearch(embs(s, d), qf, k = 5, nprobe = np)
          .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
        brute.join(ivf,
            col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
            "left")
          .agg(round(sum(when(col("n2").isNotNull, 1).otherwise(0)) /
            count(lit(1)).cast("double"), 6).as("mean_recall_at_5"))
          .select(lit(np).as("nprobe"), col("mean_recall_at_5"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),

    // decoded-feature surface over the r7 REAL-container lake: container
    // length/header validate the encoders, decoded n_units/unit_sum
    // validate the parsers (true PCM samples / luma pixels)
    "mm_decode_features" -> ((s, d) =>
      Multimodal.decodeFeatures(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id")),

    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy("doc_id", "frame_idx")),

    // windowed Σ|sample| over TRUE decoded PCM (real RIFF parse, r7)
    "mm_audio_energy" -> ((s, d) =>
      Multimodal.audioEnergy(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id", "win_idx")),

    // VAD-style active segments: above-mean energy gate (integer compare)
    // merged by gaps-and-islands — the speech-segmentation pipeline step,
    // over the decoded-PCM energy stream
    "mm_vad_segments" -> ((s, d) =>
      Multimodal.vadSegments(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id", "seg_start")),

    "mm_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizeBatched(
        Multimodal.mediaFromDocuments(docs(s, d)).as[Multimodal.MediaRecord])
        .toDF().orderBy("doc_id")
    }),

    // perceptual hash over the media bytes — integer-compare bits, no
    // float anywhere in the hash
    "mm_phash" -> ((s, d) =>
      Multimodal.phash(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy("doc_id")),

    // media near-dup: banded-LSH pair search over phash, EXACT for
    // hamming <= 3 by pigeonhole (the oracle is the exhaustive self-join)
    "mm_phash_neardup" -> ((s, d) =>
      Multimodal.phashNearDup(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy("doc_id_a", "doc_id_b")),

    // cross-video near-dup: Jaccard over distinct frame-fingerprint sets,
    // blocked by the shared-fingerprint inverted index (no all-pairs)
    "mm_video_neardup" -> ((s, d) =>
      Multimodal.videoNearDup(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy("doc_id_a", "doc_id_b")),

    // REAL perceptual hash (r7): aHash bits from the true decoded luma
    // plane of the bmp lake rows — the decoded-signal tier above
    // mm_phash's container-fingerprint tier
    "mm_luma_phash" -> ((s, d) =>
      Multimodal.phashLuma(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id")),

    // image near-dup over the true-luma hash, same banded-LSH pair
    // search (exact for hamming <= 3 by pigeonhole)
    "mm_luma_neardup" -> ((s, d) =>
      Multimodal.lumaNearDup(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id_a", "doc_id_b")),

    // PNG tier (r8): the png-labeled third of the docs as REAL PNGs —
    // zlib IDAT, filter matrix cycling by row — decoded by the pure-JVM
    // png_luma expression; the oracle re-derives every pixel from the
    // payload, so hash equality round-trip-proves inflate + unfilter
    "mm_png_luma" -> ((s, d) =>
      Multimodal.pngLake(docs(s, d))
        .select(col("doc_id"),
          call_function("png_luma", col("content")).as("luma"))
        .select(col("doc_id"),
          size(col("luma")).as("n_px"),
          aggregate(col("luma"), lit(0L),
            (a, v) => a + v.cast("long")).as("luma_sum"),
          (size(col("luma")) > 0).cast("int").as("header_valid"))
        .orderBy("doc_id")),

    // true-luma aHash over the SECOND real image container — the same
    // phashLuma operator, dispatched by format
    "mm_png_phash" -> ((s, d) =>
      Multimodal.phashLuma(Multimodal.pngLake(docs(s, d)))
        .orderBy("doc_id")),

    // image near-dup over the png luma hash (banded-LSH, exact by
    // pigeonhole for hamming <= 3)
    "mm_png_neardup" -> ((s, d) =>
      Multimodal.lumaNearDup(Multimodal.pngLake(docs(s, d)))
        .orderBy("doc_id_a", "doc_id_b")),

    // scene cuts over png frames — sceneCuts' luma decode gains the
    // second container, cut logic untouched
    "mm_png_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(Multimodal.pngLake(docs(s, d)))
        .orderBy("doc_id")),

    // AVI tier frame inventory (r9): every '00db' DIB frame decoded to
    // its true luma plane; the oracle re-derives every frame energy from
    // payload bytes with NO container parse, so hash equality proves
    // avi_encode ∘ avi_frame_lumas = identity across the whole tier
    "mm_avi_frames" -> ((s, d) =>
      Multimodal.aviFrameEnergies(Multimodal.aviLake(docs(s, d)))
        .groupBy("doc_id")
        .agg(max("n_frames").as("n_frames"),
          sum("energy").as("sum_energy"),
          max("energy").as("max_frame_energy"))
        .orderBy("doc_id")),

    // scene cuts over TRUE container frames (r9): frame boundaries come
    // from the AVI's movi chunk list, not a stride slice — the shared
    // cutsFromFrames decision is unchanged
    "mm_avi_scene_cuts" -> ((s, d) =>
      Multimodal.aviSceneCuts(Multimodal.aviLake(docs(s, d)))
        .orderBy("doc_id")),

    // ENCODE half of the tokenizer lifecycle: apply the trained merge
    // table to the corpus (train is td_bpe_train). The oracle reuses the
    // unrolled training chain — its final vocabulary state IS the encoded
    // word table; BpeTrainSpec additionally pins encode against a
    // sequential reference
    "td_bpe_encode" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = TextOps.bpeTrain(dd, nMerges = BpeMerges).orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(dd, merges).orderBy("doc_id")
    }),

    // tokenizer-fit economics: chars-per-piece by source under the
    // TRAINED merge table — the measured answer to "which slice does this
    // tokenizer compress badly" (a poorly-fit source pays more context
    // window per character). Composes bpeTrain + bpeEncode; the oracle
    // extends the unrolled training chain with the per-source rollup.
    "td_bpe_compression" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = TextOps.bpeTrain(dd, nMerges = BpeMerges).orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = TextOps.bpeEncode(dd, merges).select("doc_id", "n_pieces")
      dd.select("doc_id", "source", "n_chars").join(enc, "doc_id")
        .groupBy("source").agg(
          sum("n_chars").as("total_chars"),
          sum("n_pieces").as("total_pieces"),
          round(sum(col("n_chars")).cast("double") /
            sum(col("n_pieces")).cast("double"), 6).as("chars_per_piece"))
        .orderBy("source")
    }),

    // per-source k-gram diversity — the templated-source detector that
    // feeds mixture reweighting; oracle pins k = NgramK
    "td_ngram_diversity" -> ((s, d) =>
      TextOps.ngramDiversity(docs(s, d), k = NgramK).orderBy("source")),

    // keep-rate curve over candidate length gates in ONE corpus scan
    // (conditional sums + stack — no per-threshold pass)
    "td_quality_sweep" -> ((s, d) =>
      TextOps.qualitySweep(docs(s, d), SweepThresholds).orderBy("min_tokens")),

    // feature-hashed (hashing-trick) document vectors: the stateless,
    // vocabulary-free embedder — l2-normalized, 6dp-rounded, sparse form
    "td_doc_embed" -> ((s, d) =>
      TextOps.hashedTf(docs(s, d), dims = HashDims).orderBy("doc_id", "dim")),

    // ANN over the hashed vectors, blocked by the dominant bucket of a
    // FINER hashed projection whose width derives from corpus size
    // (max(2·dims, ⌈N/64⌉)) — block count grows ∝ N, so pair work stays
    // ~64·N at any scale; cosine still scores the dims-wide vectors
    "td_doc_embed_knn" -> ((s, d) =>
      TextOps.hashedKnn(docs(s, d), dims = HashDims, k = HashKnnK)
        .orderBy("doc_id_a", "rk")),

    // within-cell cosine histogram: the threshold-picking distribution
    // diagnostic — |bins| output rows from cell-blocked pair work
    "emb_sim_histogram" -> ((s, d) =>
      Embeddings.cosineHistogram(embs(s, d)).orderBy("bin")),

    // weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    // IPL 2006): each doc draws a deterministic uniform u from its id
    // hash and competes on key = ln(u)/w (monotone in u^(1/w)); the
    // global top-K by key IS an exact weighted sample. One scan, no
    // shuffle of the corpus — TakeOrderedAndProject keeps K rows per
    // partition and merges on the driver, the same top-k machinery as
    // q12. The ranking window runs AFTER the limit, over K rows only.
    // At 100 TB this is THE mixture-sampling primitive: any weight
    // column (quality score, source temperature) slots into w.
    "td_weighted_sample" -> ((s, d) =>
      TextOps.weightedSample(
          docs(s, d).select("doc_id", "source", "n_chars"),
          col("doc_id"), col("n_chars"), k = WsK)
        .select("sample_rank", "doc_id", "source", "n_chars")
        .orderBy("sample_rank")),

    // count–min sketch (Cormode & Muthukrishnan 2005): the fixed-memory
    // frequency structure. The sketch build NEVER shuffles per-term state
    // — each token emits `depth` (row, col) cells and the groupBy
    // map-side-combines every partition down to ≤ depth×width rows, so
    // the only shuffle is the 384-cell sketch itself, at ANY corpus
    // size. The exact-count branch exists purely as the evaluation
    // harness: estimate = min over rows ≥ exact, and the overcount
    // column measures collision inflation on the true heavy hitters.
    // stratified A-ES: an independent weighted draw of k docs inside
    // every source — per-source quotas for mixture construction; the
    // rank filter rewrites to WindowGroupLimit (per-task top-k per
    // group before the exchange)
    "td_stratified_sample" -> ((s, d) =>
      TextOps.weightedSamplePerGroup(
          docs(s, d).select("doc_id", "source", "n_chars"),
          col("doc_id"), col("n_chars"), col("source"), k = StratSampleK)
        .select("source", "sample_rank", "doc_id", "n_chars")
        .orderBy("source", "sample_rank")),

    // fixed-grid histogram quantiles per source: the deterministic
    // bounded-memory alternative to exact percentile (which shuffles
    // every value) — histogram state is |sources|×|buckets| cells at any
    // corpus size; exact percentiles ride along as calibration
    "td_quantile_sketch" -> ((s, d) => {
      val dd = docs(s, d)
      val est = TextOps.histogramQuantiles(dd, col("n_chars"), col("source"),
        QsQuantiles, width = QsWidth)
      val exact = dd.groupBy(col("source").as("grp")).agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("exact_p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("exact_p90"),
        round(expr("percentile(n_chars, 0.99)"), 6).as("exact_p99"))
      est.join(exact, "grp")
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    }),

    // the NATIVE-aggregate face of the histogram quantile (r8): cells as
    // TypedImperativeAggregate state (bounded partials — |buckets| per
    // group per partition, never row-count). Same grid, same
    // interpolation as td_quantile_sketch's DataFrame plan
    "td_hist_quantile_agg" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // quantile list derived from the SAME named constant as the
      // oracle SQL (QsQuantiles) — the no-hardcoded-twins doctrine
      val ests = QsQuantiles.map(q =>
        call_function("hist_quantile", col("n_chars"), lit(q), lit(QsWidth))
          .as(s"est_p${(q * 100).toInt}"))
      docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"), ests: _*)
        .orderBy("source")
    }),

    // linear-counting distinct sketch over the corpus 3-shingle stream,
    // evaluated at three bitmap sizes in ONE scan — the deterministic
    // (md5-bitmap, oracle-hash-checkable) fixed-memory counterpart to
    // q20's HLL approx_count_distinct
    "td_distinct_sketch" -> ((s, d) => {
      val sh = TextOps.tokenized(docs(s, d))
        .select(explode(TextOps.shingles(col("toks"), 3)).as("shingle"))
      TextOps.linearCount(sh, col("shingle"), LcMs).orderBy("m")
    }),

    // EXACT set-similarity join (PPJoin prefix filter) over 3-shingle
    // sets: every pair with shingle-Jaccard >= t, 100% recall, NO
    // blocking key — the exact ground truth for what td_lsh_candidates
    // approximates and the unblocked answer to td_near_dup_pairs.
    // Shingles (not raw tokens) are the item set: combinatorially rarer
    // keys keep the rarest-first prefix buckets small even on this
    // narrow-vocabulary corpus, which is what keeps the candidate join
    // inside PlanAuditSpec's quadratic gate.
    "td_prefix_join" -> ((s, d) =>
      TextOps.prefixJaccardPairs(
          TextOps.tokenized(docs(s, d)).select(col("doc_id"),
            TextOps.shingles(col("toks"), 3).as("items")),
          PrefixJoinT)
        .orderBy("doc_id_a", "doc_id_b")),

    "td_cms_heavy" -> ((s, d) => {
      val toks = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val sketch = TextOps.cmsSketch(toks, col("term"), CmsDepth, CmsWidth)
      val top = toks.groupBy("term").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("term")).limit(CmsTopK)
      TextOps.cmsEstimate(top, col("term"), sketch, CmsDepth, CmsWidth)
        .withColumn("overcount", col("cms_estimate") - col("exact"))
        .orderBy(col("exact").desc, col("term"))
    }),

    // K-minimum-values distinct sketch per source: the fixed-k mergeable
    // member of the sketch family (linear counting's bitmap must scale
    // with cardinality; KMV's k values don't) — md5-derived, so the
    // estimate is engine-exact, same stance as td_distinct_sketch
    "td_kmv_distinct" -> ((s, d) => {
      val terms = TextOps.tokenized(docs(s, d))
        .select(col("source"), explode(col("toks")).as("term"))
      TextOps.kmvDistinct(terms, col("term"), col("source"), KmvK)
        .withColumnRenamed("grp", "source").orderBy("source")
    }),

    // Zipf rank–frequency slope per source — the one-number corpus-health
    // diagnostic (natural text ≈ −1; template spam bows away)
    "td_zipf" -> ((s, d) =>
      TextOps.zipfSlope(docs(s, d), ZipfTopN).orderBy("source")),

    // tokenizer-coverage diagnostic: OOV rate against the corpus top-500
    // vocabulary; integer-count ratio, so exact in any engine
    "td_oov_rate" -> ((s, d) =>
      TextOps.oovRate(docs(s, d), OovVocab).orderBy("source")),

    // Unicode NFC canonicalization via the codegen'd nfc_normalize
    // Expression (graft.functions.NfcNormalize) — the pre-hash text
    // normalization every web corpus needs; the appended decomposed
    // suffix makes the composition observable on ASCII synthetic data
    "td_unicode_norm" -> ((s, d) => {
      val raw = concat(substring(col("text"), 1, 24), lit(UnicodeSuffix))
      docs(s, d).select(col("doc_id"),
          length(raw).as("raw_len"),
          length(call_function("nfc_normalize", raw)).as("norm_len"),
          call_function("nfc_normalize", raw).as("normalized"))
        .orderBy("doc_id")
    }),

    // split-half centroid drift per cell — the ingest-generation shift
    // monitor that decides when an ANN index needs re-clustering
    "emb_centroid_drift" -> ((s, d) =>
      Embeddings.centroidDrift(embs(s, d)).orderBy("cell")),

    // pairwise source Jaccard from MERGED KMV sketches (the union-merge
    // that justifies KMV): all-pairs source overlap at |groups|²·k array
    // cost instead of a corpus term join; exact Jaccard rides along as
    // the calibration column
    "td_source_jaccard" -> ((s, d) => {
      val terms = TextOps.tokenized(docs(s, d))
        .select(col("source"), explode(col("toks")).as("term"))
      TextOps.kmvPairJaccard(terms, col("term"), col("source"), KmvPairK)
        .orderBy("source_a", "source_b")
    }),

    // scene-cut detection over the frame stream: per-frame byte-sum
    // energy, lag-window deltas, integer 1.5×-mean threshold
    // scene cuts over TRUE decoded luma frames (real BMP parse, r7)
    "mm_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(Multimodal.mediaLake(docs(s, d)))
        .orderBy("doc_id")),

    // max-min-fair (water-filling) token-budget allocation across
    // sources at budget = half the corpus — the "cap the
    // over-represented sources" mixture rule, closed-form and
    // all-integer on the sorted |sources|-row table
    "td_waterfill" -> ((s, d) =>
      TextOps.waterFill(docs(s, d)).orderBy("source")),

    // per-doc 3-gram novelty: share of a doc's shingles appearing in no
    // other doc — the doc-wise memorization/contribution diagnostic
    "td_novelty" -> ((s, d) =>
      TextOps.ngramNovelty(docs(s, d), NgramK).orderBy("doc_id")),

    // corpus manifest fingerprint: per-source doc count, XOR of content
    // hashes (order-independent, so ANY partitioning/replication
    // reproduces it), hash range, byte total — the reproducibility
    // check a pipeline publishes next to a dataset version; two corpora
    // with equal manifests are content-identical per source
    "td_corpus_manifest" -> ((s, d) =>
      docs(s, d)
        .select(col("source"), TextOps.md5Long(col("text")).as("h"),
          col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("content_xor"),
          min("h").as("min_hash"), max("h").as("max_hash"),
          sum("n_chars").as("n_chars_total"))
        .orderBy("source")),

    // contrastive (anchor, positive, hard-negative) triplets per query
    // vector — the embedding-training data-construction op; one scored
    // scan, both picks as rank-1 rows of a (query, same-label?) window
    "emb_triplets" -> ((s, d) =>
      Embeddings.trainingTriplets(embs(s, d), col("vec_id") < 5)
        .orderBy("query_id")),

    // leakage-aware train/val/test split: hash-assign by near-dup
    // CLUSTER ROOT so every member of a duplicate cluster lands in one
    // split, then AUDIT both this and the naive doc-hash split by
    // counting verified near-dup pairs that straddle split boundaries —
    // cluster-aware must leak ZERO by construction (the contamination
    // mechanism eval-set decontamination exists to fix, prevented at
    // split time). Composes the scale-safe LSH path end to end.
    "td_split_leakage" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = TextOps.lshCandidatePairs(dd)
        .filter(col("jaccard") >= 0.5)
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint()
      val roots = TextOps.dedupClusters(pairs)
      def splitOf(c: Column) = {
        val h = pmod(TextOps.md5Long(concat(lit("split:"),
          c.cast("string"))), lit(100L))
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
      }
      val asg = dd.select(col("doc_id"))
        .join(roots, Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("canonical_id"), col("doc_id")))
        .select(col("doc_id"), splitOf(col("root")).as("split"),
          splitOf(col("doc_id")).as("naive_split"))
        .localCheckpoint() // feeds 2 rollups + 2 leak probes
      val leaks = graft.ops.BlockedPairs.attach(pairs, asg, "doc_id",
          Seq("split", "naive_split"), ("doc_id_a", "doc_id_b"))
        .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("leaked_aware"),
          sum(when(col("naive_split_a") =!= col("naive_split_b"), 1L).otherwise(0L))
            .as("leaked_naive"))
      val ca = asg.groupBy("split").agg(count(lit(1)).as("n_docs"))
      val na = asg.groupBy(col("naive_split").as("split"))
        .agg(count(lit(1)).as("n_docs_naive"))
      ca.join(na, Seq("split"), "left")
        .na.fill(0L, Seq("n_docs_naive"))
        .crossJoin(broadcast(leaks))
        .orderBy("split")
    }),

    // the KMV sketch via the NATIVE kmin_values TypedImperativeAggregate
    // (graft.functions.KMinValues): dedup + truncate happen inside the
    // partial pass, so each group ships ≤ k longs per partition — no
    // distinct shuffle, no rank window. td_kmv_distinct's production
    // plan; the window formulation stays as the calibrated sibling.
    "td_kmv_agg" -> ((s, d) => {
      val M = (1L << 60).toDouble
      val hashed = TextOps.tokenized(docs(s, d))
        .select(col("source"), explode(col("toks")).as("term"))
        .select(col("source"),
          TextOps.md5Long(concat(lit("kmv:"), col("term"))).as("h"))
      hashed.groupBy("source")
        .agg(call_function("kmin_values", col("h"), lit(KmvK)).as("kmin"))
        .select(col("source"),
          size(col("kmin")).cast("long").as("n_kept"),
          round(element_at(col("kmin"), -1).cast("double") / lit(M), 9)
            .as("u_k"),
          round(when(size(col("kmin")) < KmvK,
              size(col("kmin")).cast("double"))
            .otherwise(lit((KmvK - 1).toDouble) * lit(M) /
              element_at(col("kmin"), -1).cast("double")), 6)
            .as("kmv_estimate"))
        .orderBy("source")
    })
  )

  // ---- DuckDB oracle building blocks ----

  /** Shared loop constants — the Spark query and its unrolled DuckDB
    * oracle both read these, so the two sides cannot drift (the PqM
    * pattern). */
  private val BpeMerges = 8
  private val LogregIters = 3
  private val LogregBuckets = 32
  private val LogregLr = 0.5
  private val UnigramFullTarget = 40
  private val UnigramFullStep = 8
  private val UnigramFullRounds = 3
  private val SemDedupCells = 16
  private val SemDedupThreshold = 0.4
  private val KmeansCells = 16
  private val KmeansIters = 3
  private val SemDecontThreshold = 0.4
  private val LbWidth = 64
  private val LbBatch = 8
  private val LbSub = 4
  private val RecallNprobes = Seq(1, 2, 4)
  private val ContamReportThreshold = 0.1
  private val NgramK = 3
  /** Efraimidis–Spirakis sample size (td_weighted_sample). */
  private val WsK = 100
  /** count–min sketch geometry + probe set (td_cms_heavy). */
  private val CmsDepth = 3
  private val CmsWidth = 128
  private val CmsTopK = 20
  /** KMV sketch size (td_kmv_distinct); 2^60 = md5_prefix64's range. */
  private val KmvK = 64
  /** KMV size for the pairwise-Jaccard merge (td_source_jaccard). */
  private val KmvPairK = 128
  private val KmvRange = "1152921504606846976.0"
  /** Zipf fit depth + OOV vocabulary cut (td_zipf / td_oov_rate). */
  private val ZipfTopN = 200
  private val OovVocab = 500
  /** Decomposed-form suffix (e + U+0301, e + U+0308) appended so the NFC
    * normalization op does real composition work on the ASCII-only
    * synthetic corpus; Scala and the oracle SQL share the one constant. */
  private val UnicodeSuffix = " cafe\u0301 noe\u0308l"
  /** PPJoin Jaccard threshold (td_prefix_join) — matches NearDupT so the
    * exact join's pairs are comparable against the blocked variant's. */
  private val PrefixJoinT = 0.5
  /** Linear-counting bitmap sizes (td_distinct_sketch). */
  private val LcMs = Seq(4096, 16384, 65536)
  /** Per-source draw size (td_stratified_sample). */
  private val StratSampleK = 5
  /** Histogram-quantile sketch grid (td_quantile_sketch). */
  private val QsQuantiles = Seq(0.5, 0.9, 0.99)
  private val QsWidth = 8
  private val SweepThresholds = Seq(20, 40, 60, 80, 120)
  private val HashDims = 16
  private val HashKnnK = 3

  /** 60-bit md5-derived hash, DuckDB side. */
  private def dHash(x: String) =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** Sparse l2-normalized feature-hashed doc vectors, DuckDB side — the
    * oracle twin of [[graft.text.TextOps.hashedTf]] (CTE `sp`:
    * doc_id, source, dim, val). */
  private def duckHashedSparse: String =
    s"""dm AS (
         SELECT doc_id, source,
                ${dHash("concat('dim:', term)")} % $HashDims AS dim,
                CAST(count(*) AS DOUBLE) AS w
         FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
               FROM documents)
         GROUP BY doc_id, source, dim),
       nm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM dm GROUP BY doc_id),
       sp AS (SELECT dm.doc_id, dm.source, CAST(dim AS INT) AS dim,
                     round(w / nrm, 6) AS val
              FROM dm JOIN nm USING (doc_id))"""

  /** Unrolled-CTE BPE training chain, DuckDB side. The vocabulary state
    * is a wrapped-symbol STRING — every symbol enclosed in chr(1)/chr(2)
    * sentinels — so plain SQL `replace` IS the greedy left-to-right merge
    * fold [[graft.text.TextOps.bpeMergeOnce]] performs: both scan
    * non-overlapping left-to-right, neither can re-match output it just
    * produced, and the sentinels make matching whole-symbol-exact (a pair
    * (a,b) can't fire inside a longer symbol that merely contains `ab`).
    * One (pair-count, argmax, apply) CTE triple per merge round;
    * `LEFT JOIN … ON TRUE` keeps the chain total when a round finds no
    * pair with count >= 2, reproducing the Spark loop's exhaustion stop
    * at any scale factor. */
  private def duckBpeChain(nMerges: Int): String = {
    val head =
      """w0 AS (
         SELECT chr(1) || array_to_string(string_split(word, ''), chr(2)||chr(1)) || chr(2) AS s,
                count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY 1)"""
    val rounds = (0 until nMerges).map { r =>
      s"""p$r AS (
         SELECT syms[i] AS a, syms[i+1] AS b, sum(n) AS pc
         FROM (SELECT syms, n, unnest(generate_series(1, len(syms) - 1)) AS i
               FROM (SELECT string_split(substring(s, 2, length(s) - 2), chr(2)||chr(1)) AS syms, n
                     FROM w$r))
         GROUP BY 1, 2),
         b$r AS (
         SELECT a, b, pc FROM p$r WHERE pc >= 2 ORDER BY pc DESC, a, b LIMIT 1),
         w${r + 1} AS (
         SELECT CASE WHEN b.a IS NULL THEN w.s
                ELSE replace(w.s, chr(1)||b.a||chr(2)||chr(1)||b.b||chr(2),
                             chr(1)||b.a||b.b||chr(2)) END AS s, w.n
         FROM w$r w LEFT JOIN b$r b ON TRUE)"""
    }
    (head +: rounds).mkString(",\n")
  }

  /** Unrolled-CTE Lloyd's k-means, DuckDB side — the oracle twin of
    * [[graft.sim.Embeddings.kmeansTrain]]. Each round is one centroid
    * aggregation over the previous assignment and one argmax
    * re-assignment (row_number ties to the lowest cell, matching the
    * Spark side's `max(struct(acos, -cell))`). */
  private def duckKmeansChain(nCells: Int, iters: Int): String = {
    val head = Seq(
      """eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings)""",
      s"""a0 AS (SELECT vec_id, vec_id % $nCells AS cell FROM eb)""")
    val rounds = (1 to iters).map { r =>
      s"""c$r AS (
         SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
           SELECT cell, idx, avg(v) AS cv FROM (
             SELECT a.cell, generate_subscripts(eb.emb, 1) AS idx,
                    unnest(eb.emb) AS v
             FROM eb JOIN a${r - 1} a USING (vec_id))
           GROUP BY cell, idx)
         GROUP BY cell),
         a$r AS (
         SELECT vec_id, cell FROM (
           SELECT eb.vec_id, c.cell,
                  row_number() OVER (PARTITION BY eb.vec_id
                    ORDER BY ${dCos("eb.emb", "c.cemb")} DESC, c.cell ASC) AS rk
           FROM eb, c$r c)
         WHERE rk = 1)"""
    }
    (head ++ rounds).mkString(",\n")
  }

  /** Unrolled-CTE batch-GD logistic regression, DuckDB side — the oracle
    * twin of [[graft.text.Classifier.logregTrain]] + `logregScore`. The
    * model is a (buckets+1)-row weight CTE per iteration; each round is
    * the same two corpus aggregations the Spark side runs (per-doc score,
    * per-bucket gradient) followed by the 1e-6-rounded weight update.
    * That rounding is what makes cross-engine parity hold: both engines
    * accumulate float sums in different orders, but the drift (~1e-15)
    * is quantized away each round unless a weight lands within ~1e-10 of
    * a rounding boundary — verified exact at sf0.01. */
  private def duckLogregChain(iters: Int, buckets: Int, lr: Double): String = {
    val h = dHash("tok")
    val head = Seq(
      """tk AS (
         SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
                unnest(string_split(text, ' ')) AS tok
         FROM documents)""",
      s"""feats AS (
         SELECT doc_id, bucket, x FROM (
           SELECT doc_id, $h % $buckets AS bucket,
                  CAST(count(*) AS DOUBLE) / any_value(n_toks) AS x
           FROM tk GROUP BY doc_id, $h % $buckets)
         UNION ALL
         SELECT doc_id, -1 AS bucket, 1.0 AS x FROM documents)""",
      """lab AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents)""",
      """nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)""",
      s"""w0 AS (SELECT unnest(generate_series(-1, ${buckets - 1})) AS bucket, 0.0 AS wgt)""")
    val rounds = (0 until iters).map { r =>
      s"""g$r AS (
         SELECT f.bucket, sum(rr.r * f.x) AS g
         FROM (SELECT doc_id, 1.0/(1.0 + exp(-z)) - y AS r
               FROM (SELECT f2.doc_id, any_value(lab.y) AS y, sum(f2.x * w.wgt) AS z
                     FROM feats f2 JOIN w$r w USING (bucket) JOIN lab USING (doc_id)
                     GROUP BY f2.doc_id)) rr
         JOIN feats f USING (doc_id)
         GROUP BY f.bucket),
         w${r + 1} AS (
         SELECT w.bucket, round(w.wgt - $lr * coalesce(g.g, 0.0) / nn.n, 6) AS wgt
         FROM w$r w LEFT JOIN g$r g USING (bucket), nn)"""
    }
    (head ++ rounds).mkString(",\n")
  }

  /** distinct word 3-shingles, one row each. */
  private val duckShingles =
    """sh AS (
       SELECT DISTINCT doc_id, shingle FROM (
         SELECT doc_id,
                unnest(list_transform(generate_series(0, len(toks) - 3),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE len(string_split(text, ' ')) >= 3)))"""

  /** 32-bit perceptual hash of the media bytes, integer block-mean
    * compare — the oracle twin of [[graft.mm.Multimodal.phash]]. */
  private val duckPhash =
    """m AS (SELECT doc_id, hex(encode(text)) AS h,
                    octet_length(encode(text)) AS L FROM documents),
       by AS (SELECT doc_id, L, list_transform(generate_series(1, L),
                j -> CAST(concat('0x', substr(h, j*2-1, 2)) AS BIGINT)) AS bytes
              FROM m),
       p AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), i ->
               CASE WHEN coalesce(list_sum(list_slice(bytes,
                      CAST(floor(i*L/32.0) AS INT) + 1,
                      CAST(floor((i+1)*L/32.0) AS INT))), 0) * 32
                    > list_sum(bytes)
               THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
             AS BIGINT) AS phash FROM by)"""

  /** aHash bits over the decoded luma plane (the [[duckLumaCte]] `lm`
    * frame) — block offsets floor(i·n/32), integer mean compare, the
    * exact rule Multimodal.phashLuma folds. */
  private val duckLumaPhash =
    """lp AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), i ->
         CASE WHEN coalesce(list_sum(list_slice(luma,
                CAST(floor(i * n_luma / 32.0) AS INT) + 1,
                CAST(floor((i+1) * n_luma / 32.0) AS INT))), 0) * 32
              > coalesce(list_sum(luma), 0)
         THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
       AS BIGINT) AS phash FROM lm)"""

  private val simhashVotes = (0 until 16).map(j =>
    s"sum(CASE WHEN (h & ${1L << j}) != 0 THEN 1 ELSE -1 END) AS s_$j").mkString(", ")
  private val simhashBits = (0 until 16).map(j =>
    s"CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  private val duckSimhash =
    s"""simhash AS (
        SELECT doc_id, $simhashBits AS simhash FROM (
          SELECT doc_id, $simhashVotes FROM (
            SELECT DISTINCT doc_id, tok, ${dHash("tok")} AS h FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
          GROUP BY doc_id))"""

  /** blocked pair comparison (token Jaccard + SimHash Hamming) — shared by
    * the near-dup pair oracle and the dedup-cluster oracle. */
  private val duckNearDupCtes =
    s"""$duckSimhash,
       side AS (
         SELECT d.doc_id, d.source,
                list_distinct(string_split(d.text, ' ')) AS dtoks, s.simhash
         FROM documents d JOIN simhash s USING (doc_id)),
       p AS (
         SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                len(list_intersect(a.dtoks, b.dtoks)) AS inter,
                len(a.dtoks) + len(b.dtoks) - len(list_intersect(a.dtoks, b.dtoks)) AS un,
                bit_count(xor(a.simhash, b.simhash)) AS hamming_distance
         FROM side a JOIN side b ON a.source = b.source AND a.doc_id < b.doc_id)"""

  /** banded-LSH candidate pairs with verified shingle-Jaccard — shared by
    * the td_lsh_candidates oracle and the td_lsh_clusters oracle. */
  /** Delta variant of [[duckLshCandCtes]]: bands carry the new-slice
    * flag (doc_id % 10 = 0) and the candidate join takes NEW × OLD pairs
    * only — the oracle twin of [[TextOps.deltaNearDupPairs]]. */
  private val duckDeltaLshCtes = {
    val mins = (0 until 4).map(i =>
      s"min(${dHash(s"concat('$i:', shingle)")}) AS mh_$i").mkString(", ")
    s"""$duckShingles,
        mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, (doc_id % 10 = 0) AS isnew, 0 AS band_idx,
                 md5(concat_ws('_', 0, mh_0, mh_1)) AS band_key
          FROM mh WHERE mh_0 IS NOT NULL
          UNION ALL
          SELECT doc_id, (doc_id % 10 = 0) AS isnew, 1 AS band_idx,
                 md5(concat_ws('_', 1, mh_2, mh_3)) AS band_key
          FROM mh WHERE mh_0 IS NOT NULL),
        cand AS (
          SELECT x.doc_id AS doc_id_new, y.doc_id AS doc_id_old,
                 count(*) AS n_shared_bands
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.isnew AND NOT y.isnew
          GROUP BY 1, 2),
        ss AS (SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id),
        deltacand AS (
          SELECT c.doc_id_new, c.doc_id_old, c.n_shared_bands,
                 round(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE) /
                       (len(sa.shset) + len(sb.shset)
                        - len(list_intersect(sa.shset, sb.shset))), 6) AS jaccard
          FROM cand c
          JOIN ss sa ON sa.doc_id = c.doc_id_new
          JOIN ss sb ON sb.doc_id = c.doc_id_old)"""
  }

  /** Oracle twin of [[TextOps.lshBandingPlan]]: the same divisor splits
    * and j grid, powers expanded to the same explicit multiplication
    * chains (correctly-rounded IEEE products — engine-exact). */
  private val duckLshPlanSql = {
    val parts = (1 to 16).filter(16 % _ == 0).map { b =>
      val r = 16 / b
      val jr = (1 to r).map(_ => "j").mkString(" * ")
      val miss = (1 to b).map(_ => s"(1.0 - ($jr))").mkString(" * ")
      s"""SELECT $b AS bands, $r AS rows_per_band,
             round(j, 6) AS jaccard,
             round(1.0 - ($miss), 6) AS p_candidate,
             round(pow(1.0 / $b, 1.0 / $r), 6) AS threshold_50pct
          FROM (SELECT i / 20.0 AS j FROM generate_series(1, 19) AS t(i))"""
    }
    parts.mkString("\nUNION ALL\n") + "\nORDER BY bands, jaccard"
  }

  /** Oracle twin of [[graft.ops.ScaleKnobs.advise]], GENERATED from the
    * same named constants (a ScaleKnobs default change flows into both
    * engines; nothing is hardcoded twice). Integer arithmetic only:
    * ceil-division as (n+d-1)//d, the plane search as min-g over a
    * shift series (coalesce-saturated at the cap, matching the Scala
    * loop's behavior past occupancy<<cap), the coarse count as the
    * max-g integer sqrt scan (46341² > Int.MaxValue bounds the series). */
  private val duckScaleKnobsSql = {
    import graft.ops.ScaleKnobs._
    s"""WITH n AS (SELECT (SELECT count(*) FROM documents) AS nd,
                          (SELECT count(*) FROM embeddings) AS ne),
        k AS (SELECT nd, ne,
                least(greatest($KmeansFloor,
                         (ne + ${KmeansOccupancy - 1}) // $KmeansOccupancy),
                      $KmeansCellsCap)
                  AS cells
              FROM n)
        SELECT * FROM (
          SELECT 'hashed_knn_block_dims' AS knob, nd AS input_n,
                 CAST(greatest(${2 * HashedKnnDims},
                      (nd + ${BlockOccupancy - 1}) // $BlockOccupancy) AS BIGINT)
                   AS value,
                 'candidate pair work ~64*N (blocks ~ N/64)' AS holds
          FROM k
          UNION ALL
          SELECT 'kmeans_cells', ne, CAST(cells AS BIGINT),
                 'semdedup pair work ~125*N (cell occupancy ~125; $KmeansCellsCap-cell cap bounds assign <= 2048*N)'
          FROM k
          UNION ALL
          SELECT 'kmeans_coarse', ne,
                 CAST(CASE WHEN cells <= $CoarseFloorCells THEN 1
                      WHEN cells <= $ThreeLevelFloorCells THEN
                        (SELECT max(g) FROM generate_series(1, 46341) t(g)
                         WHERE g * g <= cells)
                      ELSE (SELECT max(g) * max(g)
                            FROM generate_series(1, 1290) t(g)
                            WHERE g * g * g <= cells) END AS BIGINT),
                 'lloyd assign mid routing level (sqrt(cells) two-level; cbrt(cells)^2 past $ThreeLevelFloorCells cells)'
          FROM k
          UNION ALL
          SELECT 'kmeans_coarse2', ne,
                 CAST(CASE WHEN cells <= $ThreeLevelFloorCells THEN 1
                      ELSE (SELECT max(g) FROM generate_series(1, 1290) t(g)
                            WHERE g * g * g <= cells) END AS BIGINT),
                 'lloyd assign top routing level (cbrt(cells) past $ThreeLevelFloorCells cells => assign ~3*cbrt(cells)*N)'
          FROM k
          UNION ALL
          SELECT 'kmeans_sample_mod', ne,
                 -- least() mirrors the Scala clamp-before-narrow
                 -- (Int.MaxValue) so generated-from-the-same-constants
                 -- parity holds even past ~2.7e11 vectors
                 CAST(least(greatest(1, ne // (cells * $SamplePerCell)),
                            2147483647) AS BIGINT),
                 'centroid training on a ~32*cells sample (iterations off-corpus)'
          FROM k
          UNION ALL
          SELECT 'nndescent_lsh_planes', ne,
                 CAST(coalesce(
                        (SELECT min(g) FROM generate_series($LshFloor, $LshCap) t(g)
                         WHERE (CAST($LshOccupancy AS BIGINT) << g) >= ne),
                        $LshCap) AS BIGINT),
                 'seed pair work ~1250*N (bucket occupancy ~1250)'
          FROM k
          UNION ALL
          SELECT 'semdedup_postings', ne,
                 CAST(CASE WHEN cells > $CoarseFloorCells THEN 1 ELSE 0 END
                      AS BIGINT),
                 'cell-bucketed postings (zero-Exchange rank+pair plan) past $CoarseFloorCells cells'
          FROM k
          UNION ALL
          SELECT 'nndescent_truth_mod', ne,
                 -- least() mirrors the Scala clamp-before-narrow, same
                 -- as kmeans_sample_mod above (r8 review: the sibling
                 -- knob had the parity gap the ADVICE fix closed there)
                 CAST(least(greatest($TruthFloor, ne // $TruthMaxQueries),
                            2147483647) AS BIGINT),
                 'exact-truth leg ~100*N (sampled queries capped ~100)'
          FROM k)
        ORDER BY knob"""
  }

  private val duckLshCandCtes = {
    val mins = (0 until 4).map(i =>
      s"min(${dHash(s"concat('$i:', shingle)")}) AS mh_$i").mkString(", ")
    s"""$duckShingles,
        mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band_idx, md5(concat_ws('_', 0, mh_0, mh_1)) AS band_key
          FROM mh WHERE mh_0 IS NOT NULL
          UNION ALL
          SELECT doc_id, 1 AS band_idx, md5(concat_ws('_', 1, mh_2, mh_3)) AS band_key
          FROM mh WHERE mh_0 IS NOT NULL),
        cand AS (
          SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, count(*) AS n_shared_bands
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        ss AS (SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id),
        lshcand AS (
          SELECT c.doc_id_a, c.doc_id_b, c.n_shared_bands,
                 round(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE) /
                       (len(sa.shset) + len(sb.shset)
                        - len(list_intersect(sa.shset, sb.shset))), 6) AS jaccard
          FROM cand c
          JOIN ss sa ON sa.doc_id = c.doc_id_a
          JOIN ss sb ON sb.doc_id = c.doc_id_b)"""
  }

  /** txt_gopher oracle body, hoisted so txt_gopher_full can reuse it. */
  private val duckGopherRulesSql: String = {
      val reqList = TextOps.GopherReqStopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH g AS (
            SELECT doc_id, n_chars, text,
                   string_split(text, ' ') AS toks,
                   string_split(text, chr(10)) AS lns,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw
            FROM documents),
          r AS (
            SELECT doc_id, n_words,
                   round((n_chars - (n_words - 1)) / nw, 6) AS mean_word_len,
                   round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) / nw, 6)
                     AS frac_alpha_words,
                   len(list_filter([$reqList], w -> list_contains(toks, w)))
                     AS n_req_stopwords,
                   round((length(text) - length(replace(text, '#', ''))) / nw, 6)
                     AS hash_ratio,
                   round((length(text) - length(replace(text, '...', ''))) / 3 / nw, 6)
                     AS ellipsis_ratio,
                   round(len(list_filter(lns, l -> regexp_matches(l, '^(-|\\*) ')))
                     / CAST(len(lns) AS DOUBLE), 6) AS frac_bullet_lines,
                   round(len(list_filter(lns, l -> regexp_matches(l, '\\.\\.\\.$$')))
                     / CAST(len(lns) AS DOUBLE), 6) AS frac_ellipsis_lines
            FROM g)
          SELECT *,
                 CAST(n_words >= 50 AND n_words <= 100000
                      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
                      AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
                      AND frac_alpha_words >= 0.8 AND n_req_stopwords >= 2
                   AS INT) AS pass_gopher
          FROM r ORDER BY doc_id"""
    }

  /** Oracle for [[TextOps.gopherRepetition]]: per-(doc, gram) SQL
    * aggregation computing the same integers as the Spark sorted-run
    * folds — top = max-count gram's count×len (count ties to the
    * lexicographically smallest gram), dup = Σ count×len over grams with
    * count ≥ 2 — then one rounded division per signal. */
  private val duckGopherRepSql = {
    val tops = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dups = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    val ns = tops.map(_._1) ++ dups.map(_._1)
    def gramCtes(n: Int) = {
      val parts = (1 to n).map(j => s"toks[i+$j]").mkString(", ")
      s"""g_$n AS (SELECT doc_id, g, count(*) AS cnt FROM (
            SELECT doc_id, unnest(list_transform(generate_series(0, len(toks) - $n),
              i -> concat_ws(' ', $parts))) AS g
            FROM tok WHERE len(toks) >= $n)
          GROUP BY doc_id, g),
          tm_$n AS (SELECT doc_id, max(cnt) AS mc FROM g_$n GROUP BY doc_id),
          tc_$n AS (SELECT t.doc_id,
                           CAST(t.mc * len(min(g.g)) AS BIGINT) AS topc
                    FROM tm_$n t JOIN g_$n g
                      ON g.doc_id = t.doc_id AND g.cnt = t.mc
                    GROUP BY t.doc_id, t.mc),
          dc_$n AS (SELECT doc_id,
                           CAST(sum(CASE WHEN cnt >= 2 THEN cnt * len(g)
                                    ELSE 0 END) AS BIGINT) AS dupc
                    FROM g_$n GROUP BY doc_id)"""
    }
    val fracCols =
      tops.map { case (n, _) =>
        s"round(coalesce(tc_$n.topc, 0) / CAST(d.n_chars AS DOUBLE), 6) AS top_${n}gram_char_frac"
      } ++ dups.map { case (n, _) =>
        s"round(coalesce(dc_$n.dupc, 0) / CAST(d.n_chars AS DOUBLE), 6) AS dup_${n}gram_char_frac"
      }
    val joins =
      tops.map { case (n, _) => s"LEFT JOIN tc_$n ON tc_$n.doc_id = d.doc_id" } ++
        dups.map { case (n, _) => s"LEFT JOIN dc_$n ON dc_$n.doc_id = d.doc_id" }
    val pass = (tops.map { case (n, t) => s"top_${n}gram_char_frac <= $t" } ++
      dups.map { case (n, t) => s"dup_${n}gram_char_frac <= $t" })
      .mkString(" AND ")
    s"""WITH tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
                     FROM documents),
        ${ns.map(gramCtes).mkString(",\n")}
        SELECT *, CAST($pass AS INT) AS pass_gopher_rep FROM (
          SELECT d.doc_id, d.n_chars, ${fracCols.mkString(",\n                 ")}
          FROM documents d
          ${joins.mkString("\n          ")})
        ORDER BY doc_id"""
  }

  /** Oracle CTE chain for the unigram-LM tokenizer family
    * ([[graft.text.UnigramLm]]): word counts → candidate piece
    * occurrences → seed vocabulary → per-word lattice with
    * forward/backward/Viterbi DP as `list_reduce` folds over the same
    * sorted [pos, pos, p] encodings Spark folds over — the α/β/Viterbi
    * chains are pure IEEE ·/+ in identical order, so the lattices are
    * bit-equal across engines. */
  private val duckUnigramBase = {
    val P = 4; val V = 60
    s"""wtab AS (
          SELECT word, count(*) AS wcount FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          GROUP BY word),
        occ AS (
          SELECT word, wcount, CAST(o.j AS INT) AS j, CAST(o.i AS INT) AS i,
                 o.pc AS piece
          FROM (
            SELECT word, wcount,
                   unnest(flatten(list_transform(range(1, len(word) + 1),
                     i -> list_transform(range(greatest(i - $P, 0), i),
                       j -> struct_pack(j := j, i := i,
                              pc := substr(word, j + 1, i - j)))))) AS o
            FROM wtab)),
        cnts AS (SELECT piece, sum(wcount) AS cnt FROM occ GROUP BY piece),
        topp AS (SELECT piece, cnt FROM cnts ORDER BY cnt DESC, piece LIMIT $V),
        chrs AS (SELECT piece, cnt FROM cnts WHERE len(piece) = 1),
        sel AS (SELECT piece, max(cnt) AS cnt FROM (
                  SELECT * FROM topp UNION ALL SELECT * FROM chrs)
                GROUP BY piece),
        vocab AS (SELECT piece, cnt,
                         CAST(cnt AS DOUBLE) /
                           CAST((SELECT sum(cnt) FROM sel) AS DOUBLE) AS p
                  FROM sel)"""
  }

  private val duckUnigramCtes = {
    s"""$duckUnigramBase,
        svo AS (SELECT o.word, o.wcount, o.j, o.i, o.piece, v.p
                FROM occ o JOIN vocab v USING (piece)),
        lat AS (SELECT word, wcount, len(word) AS L,
                       list_sort(list([CAST(i AS DOUBLE), CAST(j AS DOUBLE), p]))
                         AS es,
                       list_reverse(list_sort(
                         list([CAST(j AS DOUBLE), CAST(i AS DOUBLE), p]))) AS esb
                FROM svo GROUP BY word, wcount),
        dp AS (SELECT word, wcount, L,
          list_reduce(list_prepend(
              list_concat([1.0], list_transform(range(1, L + 1), x -> 0.0)), es),
            (acc, e) -> list_transform(acc, (x, k) ->
               CASE WHEN k = CAST(e[1] AS INT) + 1
                    THEN x + acc[CAST(e[2] AS INT) + 1] * e[3]
                    ELSE x END)) AS alpha,
          list_reduce(list_prepend(
              list_concat([1.0], list_transform(range(1, L + 1), x -> 0.0)), es),
            (acc, e) -> list_transform(acc, (x, k) ->
               CASE WHEN k = CAST(e[1] AS INT) + 1
                    THEN greatest(x, acc[CAST(e[2] AS INT) + 1] * e[3])
                    ELSE x END)) AS vit,
          list_reduce(list_prepend(
              list_concat(list_transform(range(1, L + 1), x -> 0.0), [1.0]), esb),
            (acc, e) -> list_transform(acc, (x, k) ->
               CASE WHEN k = CAST(e[1] AS INT) + 1
                    THEN x + e[3] * acc[CAST(e[2] AS INT) + 1]
                    ELSE x END)) AS beta
          FROM lat)"""
  }

  /** Oracle for [[graft.text.UnigramLm.segmentWords]]: Viterbi
    * backtracking as a best-predecessor table (argmax with ties to the
    * lowest start — candidate products are bit-identical chains in both
    * engines) and a recursive-CTE reconstruction walk. */
  private val duckUnigramSegmentSql = {
    // argmax as sort-last over [v, -j] pairs — max v, ties to the LOWEST
    // start j, the exact rule Spark's fold applies. (A list_reduce over
    // list_prepend(init, list_filter(..)) NESTED in list_transform with
    // correlated columns mis-evaluates in DuckDB 1.0 — candidates leak
    // past the filter — so the argmax deliberately avoids reduce here.)
    s"""WITH RECURSIVE $duckUnigramCtes,
        bpt AS (SELECT d.word, d.wcount, d.L, d.vit,
                  list_transform(range(1, d.L + 1), i ->
                    CAST(-(list_sort(list_transform(
                        list_filter(l.es, e -> CAST(e[1] AS INT) = i),
                        e -> [d.vit[CAST(e[2] AS INT) + 1] * e[3],
                              -e[2]]))[-1])[2] AS INT)) AS bp
                FROM dp d JOIN lat l USING (word)),
        walk AS (
          SELECT word, L AS pos, CAST([] AS VARCHAR[]) AS pieces FROM bpt
          UNION ALL
          SELECT w.word, b.bp[w.pos] AS pos,
                 list_prepend(substr(w.word, b.bp[w.pos] + 1,
                   w.pos - b.bp[w.pos]), w.pieces) AS pieces
          FROM walk w JOIN bpt b USING (word) WHERE w.pos > 0),
        seg AS (SELECT word, pieces FROM walk WHERE pos = 0)
        SELECT s.word, CAST(b.wcount AS BIGINT) AS wcount,
               array_to_string(s.pieces, '|') AS segmentation,
               CAST(len(s.pieces) AS INT) AS n_pieces,
               round(ln(b.vit[b.L + 1]), 6) AS viterbi_logp
        FROM seg s JOIN bpt b USING (word) ORDER BY s.word"""
  }

  /** Oracle for [[graft.text.UnigramLm.train]]: the EM loop unrolled
    * into per-round CTE chains (the bpeTrain/kmeansTrain unroll
    * pattern) — each round re-derives the lattice under the previous
    * round's 6dp-pinned probabilities. */
  private def duckAlphaF(src: String) =
    s"""list_reduce(list_prepend(
          list_concat([1.0], list_transform(range(1, L + 1), x -> 0.0)), $src),
        (acc, e) -> list_transform(acc, (x, k) ->
           CASE WHEN k = CAST(e[1] AS INT) + 1
                THEN x + acc[CAST(e[2] AS INT) + 1] * e[3]
                ELSE x END))"""

  private def duckBetaF(src: String) =
    s"""list_reduce(list_prepend(
          list_concat(list_transform(range(1, L + 1), x -> 0.0), [1.0]), $src),
        (acc, e) -> list_transform(acc, (x, k) ->
           CASE WHEN k = CAST(e[1] AS INT) + 1
                THEN x + e[3] * acc[CAST(e[2] AS INT) + 1]
                ELSE x END))"""

  /** One EM round as a CTE block: lattice under `prev`'s probabilities,
    * forward-backward expected counts, 6dp-renormalized (1e-6-floored)
    * probabilities into `out` — shared by the train and trainPruned
    * (Kudo-loop) unrolls. */
  private def duckEmRoundCtes(tag: String, prev: String, out: String,
                              materialized: Boolean = false): String = {
    // MATERIALIZED stops DuckDB inlining the round state into every
    // downstream reference — the trainPruned unroll references each
    // round's vocab ~4×, and plain-CTE expansion is EXPONENTIAL in the
    // round count (measured as a too-many-open-files blowup: every
    // inlined copy re-opens the parquet scan)
    val m = if (materialized) "MATERIALIZED " else ""
    s"""svo_$tag AS (SELECT o.word, o.wcount, o.j, o.i, o.piece, v.p
                   FROM occ o JOIN $prev v USING (piece)),
        lat_$tag AS (SELECT word, wcount, len(word) AS L,
                     list_sort(list([CAST(i AS DOUBLE), CAST(j AS DOUBLE), p]))
                       AS es,
                     list_reverse(list_sort(
                       list([CAST(j AS DOUBLE), CAST(i AS DOUBLE), p]))) AS esb
                   FROM svo_$tag GROUP BY word, wcount),
        dp_$tag AS (SELECT word, L, ${duckAlphaF("es")} AS alpha,
                         ${duckBetaF("esb")} AS beta
                  FROM lat_$tag),
        ec_$tag AS (SELECT s.piece,
                         CAST(s.wcount AS DOUBLE) * d.alpha[s.j + 1] * s.p *
                           d.beta[s.i + 1] / d.alpha[d.L + 1] AS ec
                  FROM svo_$tag s JOIN dp_$tag d USING (word)),
        ag_$tag AS (SELECT piece, round(sum(ec), 6) AS e FROM ec_$tag GROUP BY piece),
        $out AS $m(SELECT piece,
                        greatest(round(e / (SELECT round(sum(e), 6)
                          FROM ag_$tag), 6), 0.000001) AS p
                 FROM ag_$tag)"""
  }

  private val duckUnigramTrainSql = {
    val iters = 3
    val rounds = (1 to iters).map { r =>
      duckEmRoundCtes(r.toString, if (r == 1) "vocab" else s"vocab_${r - 1}",
        s"vocab_$r")
    }.mkString(",\n")
    s"""WITH $duckUnigramBase,
        $rounds
        SELECT v0.piece, round(v0.p, 6) AS seed_prob, vf.p AS prob
        FROM vocab v0 JOIN vocab_$iters vf USING (piece)
        ORDER BY piece"""
  }

  /** Oracle for [[graft.text.UnigramLm.trainPruned]] — the CLOSED Kudo
    * loop unrolled: per round, one EM block ([[duckEmRoundCtes]]) then a
    * prune block (the [[duckUnigramPruneSql]] loss machinery against the
    * EM'd vocab): per-piece removal loss from the α-fold with the
    * piece's edges filtered row-local, essential pieces protected, the
    * bottom min(pruneStep, |vocab| − target) candidates dropped (the
    * count is a scalar subquery, so late rounds no-op once the target is
    * reached — exactly the Scala loop's arithmetic), survivors
    * 6dp-renormalized with the 1e-6 floor. */
  private val duckUnigramFullSql = {
    val rounds = UnigramFullRounds
    def pruneBlock(r: Int): String =
      s"""wpf_$r AS (SELECT DISTINCT o.word, o.piece FROM occ o
                   JOIN vem_$r v USING (piece) WHERE len(o.piece) >= 2),
          svf_$r AS (SELECT o.word, o.wcount, o.j, o.i, o.piece, v.p
                   FROM occ o JOIN vem_$r v USING (piece)),
          ltf_$r AS (SELECT word, wcount, len(word) AS L,
                       list_sort(list([CAST(i AS DOUBLE), CAST(j AS DOUBLE), p]))
                         AS es
                     FROM svf_$r GROUP BY word, wcount),
          dzf_$r AS MATERIALIZED (SELECT word, wcount, L, es,
                            ${duckAlphaF("es")}[L + 1] AS z
                     FROM ltf_$r),
          prf_$r AS (SELECT wpf_$r.piece, l.wcount, l.z,
                        list_reduce(list_prepend(
                          list_concat([1.0],
                            list_transform(range(1, l.L + 1), x -> 0.0)),
                          list_filter(l.es, e ->
                            NOT (substr(wpf_$r.word, CAST(e[2] AS INT) + 1,
                                 CAST(e[1] AS INT) - CAST(e[2] AS INT))
                                 = wpf_$r.piece))),
                          (acc, e) -> list_transform(acc, (x, k) ->
                            CASE WHEN k = CAST(e[1] AS INT) + 1
                                 THEN x + acc[CAST(e[2] AS INT) + 1] * e[3]
                                 ELSE x END))[l.L + 1] AS zq
                 FROM wpf_$r JOIN dzf_$r l ON l.word = wpf_$r.word),
          lsf_$r AS (SELECT piece,
                        max(CASE WHEN zq = 0 THEN 1 ELSE 0 END) AS essential_i,
                        round(sum(CASE WHEN zq > 0
                          THEN wcount * (ln(z) - ln(zq))
                          ELSE 0 END), 6) AS loss_delta
                 FROM prf_$r GROUP BY piece),
          cdf_$r AS (SELECT piece,
                        row_number() OVER (ORDER BY loss_delta, piece) AS rk
                 FROM lsf_$r WHERE essential_i = 0),
          np_$r AS (SELECT greatest(least($UnigramFullStep,
                     (SELECT count(*) FROM vem_$r) - $UnigramFullTarget), 0)
                     AS np),
          kpf_$r AS MATERIALIZED (SELECT v.piece, v.p FROM vem_$r v
                 WHERE v.piece NOT IN (SELECT piece FROM cdf_$r
                   WHERE rk <= (SELECT np FROM np_$r))),
          pv_$r AS MATERIALIZED (SELECT piece,
                        -- a no-op round (np = 0) passes the EM probs
                        -- through UNCHANGED, exactly like the Scala
                        -- pruneRound early-return — renormalizing here
                        -- would drift the hash by 1e-6-scale amounts
                        -- the moment a round reaches the target early
                        CASE WHEN (SELECT np FROM np_$r) = 0 THEN p
                             ELSE greatest(round(p / (SELECT round(sum(p), 6)
                               FROM kpf_$r), 6), 0.000001) END AS p
                 FROM kpf_$r)"""
    val chain = (1 to rounds).map { r =>
      duckEmRoundCtes(s"f$r", if (r == 1) "vocab" else s"pv_${r - 1}",
        s"vem_$r", materialized = true) + ",\n" + pruneBlock(r)
    }.mkString(",\n")
    // materialize the shared bases too: occ is referenced 4× per round
    val base = duckUnigramBase
      .replace("occ AS (", "occ AS MATERIALIZED (")
      .replace("vocab AS (", "vocab AS MATERIALIZED (")
    s"""WITH $base,
        $chain
        SELECT v0.piece, round(v0.p, 6) AS seed_prob, pf.p AS prob
        FROM vocab v0 JOIN pv_$rounds pf USING (piece)
        ORDER BY piece"""
  }

  /** Oracle for [[graft.text.UnigramLm.pruneVocab]]: per (word,
    * multi-char vocab piece) pairs, the forward fold re-run with the
    * piece's edges filtered out by span substring — a ROW-grain
    * list_reduce (not nested in list_transform, the DuckDB-1.0 pattern
    * that mis-evaluates); loss deltas 6dp-rounded after the sum, prune
    * rank over (loss_delta, piece). */
  private val duckUnigramPruneSql = {
    val nPrune = 15
    s"""WITH $duckUnigramCtes,
        wp AS (SELECT DISTINCT o.word, o.piece FROM occ o
               JOIN vocab v USING (piece) WHERE len(o.piece) >= 2),
        pair AS (SELECT wp.piece, l.wcount, d.alpha[l.L + 1] AS z,
                        list_reduce(list_prepend(
                          list_concat([1.0],
                            list_transform(range(1, l.L + 1), x -> 0.0)),
                          list_filter(l.es, e ->
                            NOT (substr(wp.word, CAST(e[2] AS INT) + 1,
                                 CAST(e[1] AS INT) - CAST(e[2] AS INT))
                                 = wp.piece))),
                          (acc, e) -> list_transform(acc, (x, k) ->
                            CASE WHEN k = CAST(e[1] AS INT) + 1
                                 THEN x + acc[CAST(e[2] AS INT) + 1] * e[3]
                                 ELSE x END))[l.L + 1] AS zq
                 FROM wp JOIN lat l ON l.word = wp.word
                 JOIN dp d ON d.word = wp.word),
        loss AS (SELECT piece,
                        max(CASE WHEN zq = 0 THEN 1 ELSE 0 END) AS essential_i,
                        round(sum(CASE WHEN zq > 0
                          THEN wcount * (ln(z) - ln(zq))
                          ELSE 0 END), 6) AS loss_delta
                 FROM pair GROUP BY piece),
        cand AS (SELECT piece,
                        row_number() OVER (ORDER BY loss_delta, piece) AS rk
                 FROM loss WHERE essential_i = 0)
        SELECT v.piece, round(v.p, 6) AS p, l.loss_delta,
               (len(v.piece) = 1 OR coalesce(l.essential_i, 1) = 1) AS essential,
               coalesce(c.rk <= $nPrune, false) AS pruned
        FROM vocab v LEFT JOIN loss l USING (piece)
        LEFT JOIN cand c USING (piece)
        ORDER BY v.piece"""
  }

  /** End-to-end oracle for [[graft.text.CurationPipeline]]'s audit: the
    * COMPOSED pipeline — five stage-1 gates, exact dedup on normalized
    * hashes, LSH near-dedup to clusters, 8-shingle decontamination —
    * re-derived as one DuckDB CTE chain so the pipeline's audit frame
    * is hash-checked stage by stage, not just its member operators.
    * Every fragment is the registered oracle of its operator (quality
    * bucket, lang vote, repetition fraction, Gopher/C4 portable rules,
    * td_normalize's hash, duckLshCandCtes with `documents` rebased to
    * the exact-dedup survivors, td_lsh_clusters' recursive components,
    * 8-gram contamination hits). */
  /** The SemDeDup oracle chain — shared verbatim by `emb_semdedup` and
    * `emb_semdedup_collapsed` (the r10 exact-copy collapse): one SQL,
    * two Spark plans, equal hashes = the rewrite proof. */
  private def duckSemDedupSql: String =
    s"""WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                      FROM embeddings),
          scent AS (
            SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT vec_id % $SemDedupCells AS cell,
                       generate_subscripts(emb, 1) AS idx, unnest(emb) AS v
                FROM eb)
              GROUP BY cell, idx)
            GROUP BY cell),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT eb.vec_id, s.cell,
                     row_number() OVER (PARTITION BY eb.vec_id
                       ORDER BY ${dCos("eb.emb", "s.cemb")} DESC, s.cell ASC) AS rk
              FROM eb, scent s)
            WHERE rk = 1),
          e2 AS (SELECT a.cell, eb.vec_id, eb.emb FROM eb JOIN asg a USING (vec_id)),
          cent2 AS (
            SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT cell, generate_subscripts(emb, 1) AS idx, unnest(emb) AS v
                FROM e2)
              GROUP BY cell, idx)
            GROUP BY cell),
          sc AS (SELECT e2.cell, e2.vec_id, e2.emb,
                        round(${dCos("e2.emb", "cent2.cemb")}, 6) AS ccos
                 FROM e2 JOIN cent2 USING (cell)),
          rk AS (SELECT *, row_number() OVER (PARTITION BY cell
                   ORDER BY ccos ASC, vec_id ASC) AS crank FROM sc),
          dup AS (SELECT DISTINCT b.vec_id
                  FROM rk a JOIN rk b ON a.cell = b.cell AND a.crank < b.crank
                  WHERE round(${dCos("a.emb", "b.emb")}, 6) >= $SemDedupThreshold)
          SELECT r.cell, r.vec_id, r.ccos AS centroid_cos,
                 CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
          FROM rk r LEFT JOIN dup d ON r.vec_id = d.vec_id
          ORDER BY r.vec_id"""

  private def duckCurationAuditSql: String = {
    val sh8 = (1 to 8).map(j => s"toks[i+$j]").mkString(", ")
    val lshBase = duckLshCandCtes.replace("FROM documents", "FROM base_docs")
    s"""WITH RECURSIVE
        corpus AS (SELECT * FROM documents WHERE doc_id % 97 != 0),
        tok AS (SELECT doc_id, n_chars, text, lang,
                       string_split(text, ' ') AS toks,
                       string_split(text, chr(10)) AS lns
                FROM corpus),
        qg AS (SELECT doc_id, (len(toks) >= 30) AS p_quality FROM tok),
        lgs AS (SELECT doc_id, lang, $langScoreCols FROM corpus),
        lg AS (SELECT doc_id, (lang = $langCase) AS p_lang FROM lgs),
        tfm AS (SELECT doc_id, max(c) AS max_tok FROM (
                  SELECT doc_id, tt, count(*) AS c FROM (
                    SELECT doc_id, unnest(toks) AS tt FROM tok)
                  GROUP BY doc_id, tt)
                GROUP BY doc_id),
        rep AS (SELECT t.doc_id,
                       (round(CAST(f.max_tok AS DOUBLE) /
                              greatest(len(t.toks), 1), 6) < 0.5) AS p_rep
                FROM tok t JOIN tfm f USING (doc_id)),
        gop AS (SELECT doc_id,
                       (n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
                        AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
                        AND frac_alpha_words >= 0.8) AS p_gopher
                FROM (
                  SELECT doc_id, n_words,
                         round((n_chars - (n_words - 1)) / nw, 6) AS mean_word_len,
                         round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) / nw, 6)
                           AS frac_alpha_words,
                         round((length(text) - length(replace(text, '#', ''))) / nw, 6)
                           AS hash_ratio,
                         round((length(text) - length(replace(text, '...', ''))) / 3 / nw, 6)
                           AS ellipsis_ratio,
                         round(len(list_filter(lns, l -> regexp_matches(l, '^(-|\\*) ')))
                           / CAST(len(lns) AS DOUBLE), 6) AS frac_bullet_lines,
                         round(len(list_filter(lns, l -> regexp_matches(l, '\\.\\.\\.$$')))
                           / CAST(len(lns) AS DOUBLE), 6) AS frac_ellipsis_lines
                  FROM (SELECT doc_id, n_chars, text, toks, lns,
                               len(toks) AS n_words, CAST(len(toks) AS DOUBLE) AS nw
                        FROM tok))),
        c4g AS (SELECT doc_id,
                       (NOT contains(lower(text), 'lorem ipsum')
                        AND NOT contains(text, '{')) AS p_c4 FROM tok),
        gates AS (SELECT doc_id, p_quality, p_lang, p_rep, p_gopher, p_c4,
                         (p_quality AND p_lang AND p_rep AND p_gopher AND p_c4) AS pass
                  FROM qg JOIN lg USING (doc_id) JOIN rep USING (doc_id)
                  JOIN gop USING (doc_id) JOIN c4g USING (doc_id)),
        gated AS MATERIALIZED (SELECT c.* FROM corpus c JOIN gates g USING (doc_id) WHERE g.pass),
        glines AS MATERIALIZED (SELECT doc_id, unnest(lns) AS line,
                          unnest(range(len(lns))) AS i
                   FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
                         FROM gated)),
        heavyl AS MATERIALIZED (SELECT line FROM (
                     SELECT line, count(DISTINCT doc_id) AS nd
                     FROM glines GROUP BY line) WHERE nd > 3),
        lkept AS MATERIALIZED (SELECT gl.doc_id, gl.line, gl.i
                  FROM glines gl LEFT JOIN heavyl h ON h.line = gl.line
                  WHERE h.line IS NULL),
        lstat AS MATERIALIZED (SELECT doc_id, count(*) AS n_kept,
                         string_agg(line, chr(10) ORDER BY i) AS new_text
                  FROM lkept GROUP BY doc_id),
        ld AS MATERIALIZED (SELECT g.* REPLACE (coalesce(ls.new_text, '') AS text),
                      len(string_split(g.text, chr(10)))
                        - coalesce(ls.n_kept, 0) AS n_lines_removed
               FROM gated g LEFT JOIN lstat ls USING (doc_id)
               WHERE coalesce(ls.n_kept, 0) > 0),
        exh AS (SELECT doc_id,
                       md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
                FROM ld),
        exc AS (SELECT h, min(doc_id) AS canon FROM exh GROUP BY h),
        base_docs AS MATERIALIZED (SELECT g.* EXCLUDE (n_lines_removed)
                      FROM ld g JOIN exh e USING (doc_id)
                      JOIN exc c ON e.h = c.h AND g.doc_id = c.canon),
        $lshBase,
        nd AS (SELECT doc_id_a, doc_id_b FROM lshcand WHERE jaccard >= 0.5),
        edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                  UNION SELECT doc_id_b, doc_id_a FROM nd),
        cc AS (SELECT src AS node, src AS label FROM edges
               UNION
               SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node),
        canon3 AS (SELECT node AS doc_id, min(label) AS canonical_id
                   FROM cc GROUP BY node),
        near AS (SELECT b.doc_id FROM base_docs b LEFT JOIN canon3 n USING (doc_id)
                 WHERE n.doc_id IS NULL OR n.canonical_id = b.doc_id),
        bsh AS (SELECT DISTINCT shingle FROM (
                 SELECT unnest(list_transform(generate_series(0, len(toks) - 8),
                        i -> concat_ws(' ', $sh8))) AS shingle
                 FROM (SELECT string_split(text, ' ') AS toks FROM documents
                       WHERE doc_id % 97 = 0))),
        csh AS (SELECT DISTINCT doc_id, shingle FROM (
                 SELECT doc_id,
                        unnest(list_transform(generate_series(0, len(toks) - 8),
                               i -> concat_ws(' ', $sh8))) AS shingle
                 FROM (SELECT b.doc_id, string_split(b.text, ' ') AS toks
                       FROM base_docs b JOIN near USING (doc_id)))),
        hits AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (shingle)),
        finaldocs AS (SELECT doc_id FROM near
                      WHERE doc_id NOT IN (SELECT doc_id FROM hits))
        SELECT stage, n_docs FROM (
          SELECT '0_input' AS stage, (SELECT count(*) FROM corpus) AS n_docs
          UNION ALL SELECT '1_gated', (SELECT count(*) FROM gated)
          UNION ALL SELECT '1_reject_quality',
            (SELECT count(*) FROM gates WHERE NOT p_quality)
          UNION ALL SELECT '1_reject_lang',
            (SELECT count(*) FROM gates WHERE NOT p_lang)
          UNION ALL SELECT '1_reject_repetition',
            (SELECT count(*) FROM gates WHERE NOT p_rep)
          UNION ALL SELECT '1_reject_gopher',
            (SELECT count(*) FROM gates WHERE NOT p_gopher)
          UNION ALL SELECT '1_reject_c4',
            (SELECT count(*) FROM gates WHERE NOT p_c4)
          UNION ALL SELECT '1z_line_dedup_touched',
            (SELECT count(*) FROM ld WHERE n_lines_removed > 0)
          UNION ALL SELECT '1z_line_dedup_dropped_empty',
            (SELECT count(*) FROM gated) - (SELECT count(*) FROM ld)
          UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM base_docs)
          UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM near)
          UNION ALL SELECT '4_decontaminated', (SELECT count(*) FROM finaldocs))
        ORDER BY stage"""
  }

  private val langScoreCols = TextOps.langMarkers.map { case (l, ms) =>
    val list = ms.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($list))) AS score_$l"
  }.mkString(", ")

  private val langCase = {
    val langs = TextOps.langMarkers.map(_._1)
    val branches = langs.init.map { l =>
      val cond = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $branches ELSE '${langs.last}' END"
  }

  /** Hybrid-search query terms: one rare term (`dup`, df≈25/500 at
    * sf0.01) plus three common ones, so the idf spread exercises both
    * ends of the BM25 curve. */
  private[queries] val Bm25Terms = Seq("dup", "vector", "key", "query")
  private val bm25TermList = Bm25Terms.map(t => s"'$t'").mkString(", ")

  private val duckCosPrelude =
    """e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings),
       q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5)"""

  private def dCos(a: String, b: String) =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val duckCentroids =
    """cent AS (
       SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
         SELECT cell, idx, avg(v) AS cv FROM (
           SELECT cell, generate_subscripts(emb, 1) AS idx, unnest(emb) AS v FROM e)
         GROUP BY cell, idx)
       GROUP BY cell)"""

  private val MmrK = 5
  private val MmrPool = 20
  private val MmrLamTenths = 7 // λ = 7/10

  /** Sorted-neighborhood pair CTEs (oracle twin of TextOps.snmPairs):
    * sequential ROW_NUMBER rank over (sig, doc_id), pairs within rank
    * distance 10, JW-confirmed at the rounded 0.95 threshold. Shared by
    * td_snm_pairs and td_golden_record. */
  private val duckSnmCtes =
    """d AS (SELECT doc_id,
                    substr(array_to_string(list_sort(list_distinct(
                      string_split(text, ' '))), ' '), 1, 160) AS sig
             FROM documents),
       r AS (SELECT doc_id, sig,
                    row_number() OVER (ORDER BY sig, doc_id) AS rnk FROM d),
       snm AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                      b.rnk - a.rnk AS rank_gap,
                      round(jaro_winkler_similarity(a.sig, b.sig), 6)
                        AS jw_similarity
               FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 10
               WHERE round(jaro_winkler_similarity(a.sig, b.sig), 6) >= 0.95)"""

  /** Late-interaction oracle pieces: md5-derived 8-dim term vector as a
    * DuckDB list expression, and the per-query-term cosine column. */
  private def dLiVec(termExpr: String) =
    s"""list_transform(generate_series(0, 7), j ->
        (${dHash(s"concat('li:', CAST(j AS VARCHAR), ':', $termExpr)")}
         % 2001 - 1000) / 1000.0)"""

  /** 0-based byte value at `i` of the doc's UTF-8 text (0 past the end)
    * — h = hex(encode(text)), L = octet_length. The primitive every
    * r7 codec oracle derives decoded values from. */
  private def duckByteAt(i: String) =
    s"""(CASE WHEN ($i) < L
         THEN CAST(concat('0x', substr(h, ($i) * 2 + 1, 2)) AS BIGINT)
         ELSE 0 END)"""

  /** Little-endian 4-byte hex (uppercase) of an int expression — the
    * header-field encoding the r7 codec oracles validate. */
  private def duckLe32Hex(v: String) =
    s"""printf('%02X%02X%02X%02X', ($v) & 255, (($v) >> 8) & 255,
              (($v) >> 16) & 255, (($v) >> 24) & 255)"""

  /** TRUE-PCM windowed energy stream — the oracle twin of
    * Multimodal.audioEnergy over the r7 real-container lake: re-derives
    * the samples the real RIFF parser must produce from first principles
    * (sample_i = (byte_i − 128)·256, so window energy =
    * 256·Σ|byte−128|) WITHOUT parsing a container — the hash compare is
    * therefore a round-trip proof of wav_encode + wav_pcm_samples.
    * Shared by mm_audio_energy and mm_vad_segments. wav rows = even
    * doc ids (the mediaLake convention). */
  private val duckAudioEnergy =
    """SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
              CAST(coalesce(list_sum(list_transform(
                generate_series(win_idx * 32 + 1, least(win_idx * 32 + 32, L)),
                i -> 256 * abs(CAST(concat('0x', substr(h, i * 2 - 1, 2))
                                    AS BIGINT) - 128))), 0)
                AS BIGINT) AS energy
       FROM (SELECT doc_id, hex(encode(text)) AS h,
                    octet_length(encode(text)) AS L,
                    unnest(generate_series(0,
                      greatest(CAST(ceil(octet_length(encode(text)) / 32.0)
                                    AS INT) - 1, 0)))
                      AS win_idx
             FROM documents WHERE doc_id % 2 = 0)"""

  /** Decoded-luma plane oracle CTE for the bmp rows (odd doc ids):
    * W = L%24 + 8, pixels = max(1, ceil(L/3)) zero-padded to W·H,
    * luma_j = (2126·R + 7152·G + 722·B) // 10000 with (B,G,R) =
    * bytes (3j, 3j+1, 3j+2) — pure integer re-derivation, no container
    * parse, so the hash compare proves bmp_encode + bmp_luma undo the
    * bottom-up row flip and the stride padding exactly. */
  private val duckLumaCte =
    s"""lmsrc AS (
          SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS L,
                 octet_length(encode(text)) % 24 + 8 AS W,
                 greatest(1, (octet_length(encode(text)) + 2) // 3) AS npx
          FROM documents WHERE doc_id % 2 = 1),
        lm AS (
          SELECT doc_id, W, (npx + W - 1) // W AS H,
                 CAST(W * ((npx + W - 1) // W) AS BIGINT) AS n_luma,
                 list_transform(generate_series(0, W * ((npx + W - 1) // W) - 1),
                   j -> CASE WHEN j < npx THEN
                          (2126 * ${duckByteAt("3 * j + 2")}
                           + 7152 * ${duckByteAt("3 * j + 1")}
                           + 722 * ${duckByteAt("3 * j")}) // 10000
                        ELSE 0 END) AS luma
          FROM lmsrc)"""

  /** The cut-decision tail over any `fr` frame-energy CTE
    * (doc_id, n_frames, frame_idx, energy) — shared by the stride-frame
    * tiers below and the r9 AVI tier ([[duckAviFrameCte]]), the oracle
    * twin of Multimodal.cutsFromFrames. */
  private val duckSceneTail =
    """d AS (SELECT doc_id, n_frames, frame_idx,
                 abs(energy - lag(energy) OVER (PARTITION BY doc_id
                   ORDER BY frame_idx)) AS delta
               FROM fr QUALIFY delta IS NOT NULL),
         f AS (SELECT doc_id, n_frames, frame_idx, delta,
                 sum(delta) OVER (PARTITION BY doc_id) AS total_delta,
                 count(*) OVER (PARTITION BY doc_id) AS n_deltas
               FROM d)
         SELECT doc_id, max(n_frames) AS n_frames,
                CAST(max(n_deltas) AS BIGINT) AS n_deltas,
                CAST(sum(CASE WHEN delta * n_deltas * 2 > total_delta * 3
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
                CAST(min(CASE WHEN delta * n_deltas * 2 > total_delta * 3
                  THEN frame_idx END) AS INT) AS first_cut
         FROM f GROUP BY doc_id ORDER BY doc_id"""

  /** Scene-cut oracle fragment over any `lm` luma CTE (32-pixel frame
    * runs, lag-delta, integer mean-compare cut rule) — shared by the
    * bmp ([[duckLumaCte]]) and png ([[duckPngLumaCte]]) tiers. */
  private val duckSceneFromLm =
    s"""fr AS (
           SELECT doc_id, n_frames, frame_idx,
                  CAST(coalesce(list_sum(list_slice(luma,
                    frame_idx * 32 + 1,
                    least(frame_idx * 32 + 32, CAST(n_luma AS INT)))), 0)
                    AS BIGINT) AS energy
           FROM (SELECT doc_id, luma, n_luma,
                        greatest(CAST(ceil(n_luma / 32.0) AS INT), 1)
                          AS n_frames,
                        unnest(generate_series(0,
                          greatest(CAST(ceil(n_luma / 32.0) AS INT) - 1, 0)))
                          AS frame_idx
                 FROM lm)),
         $duckSceneTail"""

  /** Frame-energy oracle CTE for the r9 AVI tier (docs with
    * doc_id % 3 = 2, [[graft.mm.Multimodal.aviLake]]): frame geometry is
    * a pure function of the payload length (W = L%24+8, 4 rows per
    * frame, npx = max(1, ceil(L/3)) pixels zero-padded to full frames),
    * pixel p of frame f reads payload bytes 3·(f·W·4+p) as (B, G, R) —
    * the DIB channel order — through the same Rec.709 integer luma.
    * NO container parse, no chunk walk: hash equality against the Spark
    * side round-trip-proves avi_encode (RIFF/hdrl/strl/movi assembly,
    * bottom-up 4-byte-aligned DIB rows) ∘ avi_frame_lumas (chunk walk,
    * strf validation, per-'00db' decode) = identity. */
  private val duckAviFrameCte =
    s"""avsrc AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS L,
                 CAST(octet_length(encode(text)) % 24 + 8 AS BIGINT) AS W,
                 greatest(1, (octet_length(encode(text)) + 2) // 3) AS npx
          FROM documents WHERE doc_id % 3 = 2),
        fr AS (
          SELECT doc_id, n_frames, frame_idx,
                 CAST(list_sum(list_transform(generate_series(0, fpp - 1),
                   p -> CASE WHEN frame_idx * fpp + p < npx THEN
                          (2126 * ${duckByteAt("3 * (frame_idx * fpp + p) + 2")}
                           + 7152 * ${duckByteAt("3 * (frame_idx * fpp + p) + 1")}
                           + 722 * ${duckByteAt("3 * (frame_idx * fpp + p)")})
                            // 10000
                        ELSE 0 END)) AS BIGINT) AS energy
          FROM (SELECT doc_id, h, L, npx, W * 4 AS fpp,
                       CAST((npx + W * 4 - 1) // (W * 4) AS INT) AS n_frames,
                       unnest(generate_series(0,
                         (npx + W * 4 - 1) // (W * 4) - 1)) AS frame_idx
                FROM avsrc))"""

  /** Decoded-luma plane oracle CTE for the PNG tier (docs with
    * doc_id % 3 = 1, [[graft.mm.Multimodal.pngLake]]): same geometry
    * rule as the bmp lake (W = L%24+8, npx = max(1, ceil(L/3)),
    * zero-padded to W·H) but pixel j = bytes (3j, 3j+1, 3j+2) as
    * (R, G, B) — PNG channel order, no row flip, no stride padding.
    * Pure integer re-derivation with NO container parse and no inflate,
    * so the hash compare proves png_encode (deflate + the per-row
    * filter cycle) and png_luma (chunk walk + CRC + inflate + the full
    * None/Sub/Up/Average/Paeth unfilter matrix) compose to identity.
    * Emits the same (lmsrc, lm) CTE names as [[duckLumaCte]], so the
    * phash / scene fragments downstream compose with either. */
  private val duckPngLumaCte =
    s"""lmsrc AS (
          SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS L,
                 octet_length(encode(text)) % 24 + 8 AS W,
                 greatest(1, (octet_length(encode(text)) + 2) // 3) AS npx
          FROM documents WHERE doc_id % 3 = 1),
        lm AS (
          SELECT doc_id, W, (npx + W - 1) // W AS H,
                 CAST(W * ((npx + W - 1) // W) AS BIGINT) AS n_luma,
                 list_transform(generate_series(0, W * ((npx + W - 1) // W) - 1),
                   j -> CASE WHEN j < npx THEN
                          (2126 * ${duckByteAt("3 * j")}
                           + 7152 * ${duckByteAt("3 * j + 1")}
                           + 722 * ${duckByteAt("3 * j + 2")}) // 10000
                        ELSE 0 END) AS luma
          FROM lmsrc)"""

  /** Unrolled greedy-MMR chain, the oracle twin of Embeddings.mmrSelect:
    * step i scores every remaining pool member on EXACT INTEGER 1e-7
    * units — score_u = rel_micro·λ₁₀ − maxsim_micro·(10−λ₁₀) with rel/sim
    * being 6-dp values — and takes the windowed argmax with a neighbor-id
    * tie-break. No float round sits on the selection path (rel·0.7 at
    * 6 dp lands on round-half boundaries engines disagree on), so the
    * greedy chain is bit-identical to the Spark side; the reported score
    * is the exact integer over 1e7. */
  private def duckMmrChain: String = {
    val lamN = MmrLamTenths
    val omlN = 10 - MmrLamTenths
    def microSql(x: String) = s"CAST(round($x * 1000000) AS BIGINT)"
    val steps = (2 to MmrK).map { i =>
      s"""ms$i AS (
            SELECT p.query_id, p.na, max(p.sim) AS ms
            FROM psim p JOIN selall${i - 1} s
              ON s.query_id = p.query_id AND s.neighbor_id = p.nb
            GROUP BY p.query_id, p.na),
          sc$i AS (
            SELECT r.query_id, r.neighbor_id, r.rel,
                   ${microSql("r.rel")} * $lamN
                     - ${microSql("coalesce(m.ms, 0.0)")} * $omlN AS score_u
            FROM rem${i - 1} r LEFT JOIN ms$i m
              ON m.query_id = r.query_id AND m.na = r.neighbor_id),
          sel$i AS (
            SELECT query_id, neighbor_id, $i AS mmr_rank, rel,
                   CAST(score_u AS DOUBLE) / 10000000.0 AS score FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score_u DESC, neighbor_id ASC) AS rk FROM sc$i)
            WHERE rk = 1),
          selall$i AS (SELECT * FROM selall${i - 1}
                       UNION ALL SELECT * FROM sel$i),
          rem$i AS (
            SELECT r.query_id, r.neighbor_id, r.rel FROM rem${i - 1} r
            LEFT JOIN sel$i s ON s.query_id = r.query_id
              AND s.neighbor_id = r.neighbor_id
            WHERE s.neighbor_id IS NULL)"""
    }.mkString(",\n")
    s"""cand AS (
          SELECT query_id, neighbor_id, rel FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(${dCos("q.qemb", "e.emb")}, 6) AS rel,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
            FROM q, e WHERE e.vec_id != q.query_id) WHERE rk <= $MmrPool),
        pe AS (SELECT c.query_id, c.neighbor_id, e.emb
               FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        psim AS (SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
                        round(${dCos("a.emb", "b.emb")}, 6) AS sim
                 FROM pe a JOIN pe b
                   ON a.query_id = b.query_id
                  AND a.neighbor_id != b.neighbor_id),
        sc1 AS (SELECT query_id, neighbor_id, rel,
                       ${microSql("rel")} * $lamN
                         - ${microSql("0.0")} * $omlN AS score_u FROM cand),
        sel1 AS (SELECT query_id, neighbor_id, 1 AS mmr_rank, rel,
                        CAST(score_u AS DOUBLE) / 10000000.0 AS score FROM (
                   SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY score_u DESC, neighbor_id ASC) AS rk FROM sc1)
                 WHERE rk = 1),
        selall1 AS (SELECT * FROM sel1),
        rem1 AS (SELECT c.query_id, c.neighbor_id, c.rel FROM cand c
                 LEFT JOIN sel1 s ON s.query_id = c.query_id
                   AND s.neighbor_id = c.neighbor_id
                 WHERE s.neighbor_id IS NULL),
        $steps"""
  }

  /** Squared L2 with the same association as Embeddings.dist2. */
  private def dDist2(a: String, b: String) =
    s"(list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b)) + list_dot_product($b, $b)"

  private val PqM = 4
  private val PqDsub = 16 // 64-dim embeddings / m=4

  /** Per-subspace codebook slices of the per-cell centroids. */
  private val duckPqSub = {
    val subs = (0 until PqM)
      .map(j => s"cemb[${j * PqDsub + 1}:${(j + 1) * PqDsub}] AS s_$j").mkString(", ")
    s"sub AS (SELECT cell, $subs FROM cent)"
  }

  /** PQ code assignment: per (vector, subspace) argmin over codebook cells
    * (ties to the lowest cell, matching Spark's max(struct(-d, -cell))). */
  private val duckPqCodes = {
    val dists = (0 until PqM).map { j =>
      s"${dDist2(s"e.emb[${j * PqDsub + 1}:${(j + 1) * PqDsub}]", s"s.s_$j")} AS d_$j"
    }.mkString(", ")
    val codeCtes = (0 until PqM).map { j =>
      s"""code_$j AS (
            SELECT vec_id, cell AS code_$j FROM (
              SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d_$j ASC, cell ASC) AS rk
              FROM pqscored) WHERE rk = 1)"""
    }.mkString(",\n")
    val joins = (1 until PqM).map(j => s"JOIN code_$j c$j USING (vec_id)").mkString(" ")
    val cols = (0 until PqM).map(j => s"c$j.code_$j").mkString(", ")
    s"""pqscored AS (SELECT e.vec_id, s.cell, $dists FROM e, sub s),
       $codeCtes,
       codes AS (SELECT c0.vec_id, $cols FROM code_0 c0 $joins)"""
  }

  val oracles: Map[String, String] = Map(
    "td_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
                count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY canonical_doc_id""",

    "td_token_stats" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                len(regexp_extract_all(text, '[a-z0-9]+')) AS n_regex_tokens
         FROM documents ORDER BY doc_id""",

    "td_quality" ->
      """SELECT doc_id, n_tokens, n_stopwords, n_punct, avg_token_len, stopword_ratio,
                CASE WHEN n_tokens >= 60 AND stopword_ratio < 0.2 THEN 'high'
                     WHEN n_tokens >= 30 THEN 'medium' ELSE 'low' END AS quality_bucket
         FROM (
           SELECT doc_id, n_tokens, n_stopwords, n_punct,
                  round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS avg_token_len,
                  round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio
           FROM (
             SELECT doc_id, n_chars,
                    len(toks) AS n_tokens,
                    len(list_filter(toks, t -> t IN ('the','a','and','of','to','in'))) AS n_stopwords,
                    len(list_filter(toks, t -> regexp_matches(t, '^[^a-z0-9]+$'))) AS n_punct
             FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)))
         ORDER BY doc_id""",

    "td_lang_id" ->
      s"""SELECT doc_id, lang, score_en, score_de, score_fr, score_es, score_zh,
                 $langCase AS predicted_lang,
                 CAST(lang = $langCase AS INT) AS lang_match
          FROM (SELECT doc_id, lang, $langScoreCols FROM documents)
          ORDER BY doc_id""",

    "td_bpe_pairs" ->
      """WITH words AS (
           SELECT word, count(*) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           GROUP BY word HAVING length(word) >= 2),
         pairs AS (
           SELECT substring(word, i, 1) AS sym_a,
                  substring(word, i + 1, 1) AS sym_b, n
           FROM (SELECT word, n,
                        unnest(generate_series(1, length(word) - 1)) AS i
                 FROM words))
         SELECT sym_a, sym_b, CAST(sum(n) AS BIGINT) AS pair_count
         FROM pairs GROUP BY 1, 2
         ORDER BY pair_count DESC, sym_a, sym_b LIMIT 30""",

    "td_bpe_train" -> {
      val union = (0 until BpeMerges).map(r =>
        s"""SELECT $r AS merge_rank, a AS sym_a, b AS sym_b, a||b AS merged,
                   CAST(pc AS BIGINT) AS pair_count FROM b$r""")
        .mkString("\n UNION ALL ")
      s"""WITH ${duckBpeChain(BpeMerges)}
          SELECT * FROM ($union) ORDER BY merge_rank"""
    },

    "td_bpe_encode" ->
      s"""WITH ${duckBpeChain(BpeMerges)},
          enc AS (
            SELECT replace(replace(s, chr(1), ''), chr(2), '') AS word,
                   len(string_split(substring(s, 2, length(s) - 2), chr(2)||chr(1))) AS np
            FROM w$BpeMerges),
          toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
          SELECT doc_id, count(*) AS n_words, CAST(sum(np) AS BIGINT) AS n_pieces,
                 round(CAST(sum(np) AS DOUBLE) / count(*), 6) AS pieces_per_word
          FROM toks JOIN enc USING (word)
          GROUP BY doc_id ORDER BY doc_id""",

    "td_quality_logreg" ->
      s"""WITH ${duckLogregChain(LogregIters, LogregBuckets, LogregLr)}
          SELECT s.doc_id, round(1.0/(1.0 + exp(-s.z)), 6) AS score, lab.y
          FROM (SELECT doc_id, sum(x * wgt) AS z
                FROM feats JOIN w$LogregIters USING (bucket) GROUP BY doc_id) s
          JOIN lab USING (doc_id)
          ORDER BY s.doc_id""",

    "td_lm_holdout" ->
      s"""WITH sp AS (
            SELECT doc_id, text,
                   CASE WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 90
                        THEN 'train'
                        WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 95
                        THEN 'val' ELSE 'test' END AS split
            FROM documents),
          tt AS (SELECT unnest(string_split(text, ' ')) AS term
                 FROM sp WHERE split = 'train'),
          tf AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS corpus_tokens FROM tt),
          vt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM sp WHERE split = 'val')
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                 round(avg(log2(coalesce(CAST(cnt AS DOUBLE), 0.5) / corpus_tokens)), 6)
                   AS avg_log2p
          FROM vt LEFT JOIN tf USING (term), tot
          GROUP BY doc_id ORDER BY doc_id""",

    // DoReMi reweighting: held-out per-source mean loss in exact integer
    // micro-units, exp reweight on the ROUNDED excess, nano-unit integer
    // normalization — one float library call (exp), same trust as q67
    "td_doremi" ->
      s"""WITH sp AS (
            SELECT doc_id, text,
                   CASE WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 90
                        THEN 'train'
                        WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 95
                        THEN 'val' ELSE 'test' END AS split
            FROM documents),
          tt AS (SELECT unnest(string_split(text, ' ')) AS term
                 FROM sp WHERE split = 'train'),
          tf AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS corpus_tokens FROM tt),
          vt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM sp WHERE split = 'val'),
          sc AS (SELECT doc_id,
                        round(avg(log2(coalesce(CAST(cnt AS DOUBLE), 0.5)
                                       / corpus_tokens)), 6) AS avg_log2p
                 FROM vt LEFT JOIN tf USING (term), tot GROUP BY doc_id),
          scs AS (SELECT s.doc_id, d.source,
                         CAST(round(s.avg_log2p * 1000000) AS BIGINT) AS lpm
                  FROM sc s JOIN documents d USING (doc_id)),
          bysrc AS (SELECT source, count(*) AS n_val_docs, sum(lpm) AS lps
                    FROM scs GROUP BY source),
          gl AS (SELECT sum(lpm) AS gs, count(*) AS gn FROM scs),
          tokc AS (SELECT source,
                          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS st
                   FROM documents GROUP BY source),
          tokt AS (SELECT CAST(sum(st) AS BIGINT) AS tt2 FROM tokc),
          pre AS (
            SELECT b.source, b.n_val_docs,
                   -(CAST(b.lps AS DOUBLE) / 1000000.0) / b.n_val_docs
                     AS mean_loss_raw,
                   round(-(CAST(b.lps AS DOUBLE) / 1000000.0) / b.n_val_docs
                         - (-(CAST(g.gs AS DOUBLE) / 1000000.0) / g.gn), 6)
                     AS excess,
                   tc.st, t2.tt2
            FROM bysrc b JOIN tokc tc USING (source), gl g, tokt t2),
          prew AS (
            SELECT source, n_val_docs, mean_loss_raw, excess,
                   CAST(round((CAST(st AS DOUBLE) / tt2) * exp(excess * 1.0)
                              * 1000000000.0) AS BIGINT) AS wm
            FROM pre),
          wt AS (SELECT sum(wm) AS wt2 FROM prew)
          SELECT p.source, p.n_val_docs, round(p.mean_loss_raw, 6) AS mean_loss,
                 p.excess, round(CAST(p.wm AS DOUBLE) / w.wt2, 6) AS weight
          FROM prew p, wt w ORDER BY p.source""",

    "td_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM tf)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(log2(cnt / corpus_tokens)), 6) AS avg_log2p
         FROM toks JOIN tf USING (term), tot
         GROUP BY doc_id ORDER BY doc_id""",

    "td_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT term, count(*) AS cnt FROM (
                   SELECT unnest(string_split(text, ' ')) AS term FROM documents)
                 GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM uni),
         bg AS (SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS cur
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(0, len(toks) - 2)) AS i
                      FROM t WHERE len(toks) >= 2)),
         bc AS (SELECT prev, cur, count(*) AS cnt_b FROM bg GROUP BY 1, 2)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(log2(0.75 * bc.cnt_b / up.cnt
                               + 0.25 * uc.cnt / corpus_tokens)), 6) AS avg_log2p
         FROM bg JOIN bc USING (prev, cur)
         JOIN uni up ON up.term = bg.prev
         JOIN uni uc ON uc.term = bg.cur
         CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",

    "td_fuzzy_match" ->
      """WITH d AS (SELECT doc_id, source,
                           substr(array_to_string(list_sort(list_distinct(
                             string_split(text, ' '))), ' '), 1, 160) AS sig
                    FROM documents)
         SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                CAST(levenshtein(a.sig, b.sig) AS INT) AS edit_distance,
                round(1.0 - CAST(levenshtein(a.sig, b.sig) AS DOUBLE)
                      / greatest(len(a.sig), len(b.sig), 1), 6) AS similarity
         FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE round(1.0 - CAST(levenshtein(a.sig, b.sig) AS DOUBLE)
                     / greatest(len(a.sig), len(b.sig), 1), 6) >= 0.95
         ORDER BY doc_id_a, doc_id_b""",

    // the Spark side's native jaro_winkler Expression is bit-calibrated
    // against DuckDB's jaro_winkler_similarity (same matching, floor(t/2),
    // 0.7 boost gate, FP evaluation order); both engines filter on the
    // ROUNDED score
    "td_jw_match" ->
      """WITH d AS (SELECT doc_id, source,
                           substr(array_to_string(list_sort(list_distinct(
                             string_split(text, ' '))), ' '), 1, 160) AS sig
                    FROM documents)
         SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                round(jaro_winkler_similarity(a.sig, b.sig), 6) AS jw_similarity
         FROM d a JOIN d b ON a.source = b.source
           AND substr(a.sig, 1, 8) = substr(b.sig, 1, 8)
           AND a.doc_id < b.doc_id
         WHERE round(jaro_winkler_similarity(a.sig, b.sig), 6) >= 0.9
         ORDER BY doc_id_a, doc_id_b""",

    // the Spark side's distributed (shard-window + offsets) rank equals
    // this sequential ROW_NUMBER because the shard is a prefix of the
    // sort key; the banded pair join is exact for gaps <= w
    "td_snm_pairs" ->
      s"""WITH $duckSnmCtes
         SELECT doc_id_a, doc_id_b, rank_gap, jw_similarity FROM snm
         ORDER BY doc_id_a, doc_id_b""",

    "td_dedup_report" ->
      s"""WITH $duckLshCandCtes,
          $duckSnmCtes,
          fz AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
                 FROM d a JOIN d b ON a.doc_id < b.doc_id
                          AND substr(a.sig, 1, 8) = substr(b.sig, 1, 8)
                 JOIN documents da ON da.doc_id = a.doc_id
                 JOIN documents db ON db.doc_id = b.doc_id
                 WHERE da.source = db.source
                   AND round(1.0 - CAST(levenshtein(a.sig, b.sig) AS DOUBLE)
                             / greatest(len(a.sig), len(b.sig), 1), 6) >= 0.95),
          lp AS (SELECT doc_id_a, doc_id_b FROM lshcand WHERE jaccard >= 0.5),
          sp AS (SELECT doc_id_a, doc_id_b FROM snm)
          SELECT 'fuzzy' AS metric, count(*) AS n_pairs FROM fz
          UNION ALL SELECT 'fuzzy_and_lsh', count(*)
            FROM fz JOIN lp USING (doc_id_a, doc_id_b)
          UNION ALL SELECT 'fuzzy_and_snm', count(*)
            FROM fz JOIN sp USING (doc_id_a, doc_id_b)
          UNION ALL SELECT 'lsh', count(*) FROM lp
          UNION ALL SELECT 'lsh_and_snm', count(*)
            FROM lp JOIN sp USING (doc_id_a, doc_id_b)
          UNION ALL SELECT 'snm', count(*) FROM sp
          ORDER BY metric""",

    // ER survivorship: SNM pairs → recursive-CTE components → windowed
    // representative (longest, ties to smallest id) + provenance counters
    "td_golden_record" ->
      s"""WITH RECURSIVE $duckSnmCtes,
          nd AS (SELECT doc_id_a, doc_id_b FROM snm),
          edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                    UNION SELECT doc_id_b, doc_id_a FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node),
          canon AS (SELECT node AS doc_id, min(label) AS canonical_id
                    FROM cc GROUP BY node),
          m AS (SELECT dd.doc_id, coalesce(c.canonical_id, dd.doc_id)
                         AS canonical_id, dd.n_chars
                FROM documents dd LEFT JOIN canon c USING (doc_id)),
          rep AS (SELECT canonical_id, doc_id AS rep_doc_id,
                         n_chars AS rep_chars FROM (
                    SELECT *, row_number() OVER (PARTITION BY canonical_id
                      ORDER BY n_chars DESC, doc_id ASC) AS rk FROM m)
                  WHERE rk = 1),
          g AS (SELECT canonical_id, count(*) AS n_members,
                       min(doc_id) AS min_doc_id,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars
                FROM m GROUP BY canonical_id)
          SELECT g.canonical_id, g.n_members, g.min_doc_id,
                 rep.rep_doc_id, rep.rep_chars, g.total_chars
          FROM g JOIN rep USING (canonical_id) ORDER BY canonical_id""",

    "td_fuzzy_blocked" ->
      """WITH d AS (SELECT doc_id, source,
                           substr(array_to_string(list_sort(list_distinct(
                             string_split(text, ' '))), ' '), 1, 160) AS sig
                    FROM documents)
         SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                CAST(levenshtein(a.sig, b.sig) AS INT) AS edit_distance,
                round(1.0 - CAST(levenshtein(a.sig, b.sig) AS DOUBLE)
                      / greatest(len(a.sig), len(b.sig), 1), 6) AS similarity
         FROM d a JOIN d b ON a.source = b.source
           AND substr(a.sig, 1, 8) = substr(b.sig, 1, 8)
           AND a.doc_id < b.doc_id
         WHERE round(1.0 - CAST(levenshtein(a.sig, b.sig) AS DOUBLE)
                     / greatest(len(a.sig), len(b.sig), 1), 6) >= 0.95
         ORDER BY doc_id_a, doc_id_b""",

    "td_entropy" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS c FROM (
                       SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents) GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
                round(log2(CAST(sum(c) AS DOUBLE))
                      - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                        / CAST(sum(c) AS DOUBLE), 6) AS entropy_bits
         FROM tf GROUP BY doc_id ORDER BY doc_id""",

    "td_substring_spans" -> {
      val spanCat = (0 until 8).map(j => s"toks[i+${j + 1}]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                     WHERE len(string_split(text, ' ')) >= 8),
          sp AS (SELECT doc_id,
                        ${dHash(s"concat_ws(' ', $spanCat)")} AS h
                 FROM (SELECT doc_id, toks,
                              unnest(generate_series(0, len(toks) - 8)) AS i
                       FROM t)),
          sh AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM sp
                 GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(CASE WHEN n_docs IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_shared_spans,
                 round(CAST(sum(CASE WHEN n_docs IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS share_ratio
          FROM sp LEFT JOIN sh USING (h)
          GROUP BY doc_id ORDER BY doc_id"""
    },

    // ExactSubstr REMOVAL oracle: same all-position span table; rank
    // occurrences per identical span ((doc_id, pos) order, rank 1 =
    // canonical); a token survives iff no removed span covers it; text
    // rebuilt by position order. The token-grain EXISTS probe is the
    // oracle-side simplification of Spark's row-local interval sweep.
    "td_substring_dedup" -> {
      val spanCat = (0 until 8).map(j => s"toks[i+${j + 1}]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          sp AS (SELECT doc_id, i AS pos,
                        ${dHash(s"concat_ws(' ', $spanCat)")} AS h
                 FROM (SELECT doc_id, toks,
                              unnest(generate_series(0, len(toks) - 8)) AS i
                       FROM t WHERE len(toks) >= 8)),
          rem AS (SELECT doc_id, pos FROM (
                    SELECT doc_id, pos,
                           row_number() OVER (PARTITION BY h
                             ORDER BY doc_id, pos) AS rn
                    FROM sp) WHERE rn > 1),
          tokpos AS (SELECT doc_id, unnest(toks) AS tok,
                            unnest(range(len(toks))) AS i
                     FROM t),
          kept AS (SELECT tp.doc_id, tp.tok, tp.i FROM tokpos tp
                   WHERE NOT EXISTS (SELECT 1 FROM rem r
                     WHERE r.doc_id = tp.doc_id
                       AND r.pos <= tp.i AND tp.i < r.pos + 8)),
          outp AS (SELECT doc_id, count(*) AS n_kept,
                          string_agg(tok, ' ' ORDER BY i) AS dedup_text
                   FROM kept GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                 CAST(len(t.toks) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
                 coalesce(o.dedup_text, '') AS dedup_text
          FROM t LEFT JOIN outp o USING (doc_id) ORDER BY t.doc_id"""
    },

    // delta ExactSubstr: the same token-grain EXISTS rebuild over the
    // NEW slice only, with removal = (hash in the OLD slice's distinct
    // span hashes) OR (a lexicographically earlier occurrence within
    // the new slice)
    "td_delta_substring" -> {
      val spanCat = (0 until 8).map(j => s"toks[i+${j + 1}]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents WHERE doc_id % 5 = 0),
          sp AS (SELECT doc_id, i AS pos,
                        ${dHash(s"concat_ws(' ', $spanCat)")} AS h
                 FROM (SELECT doc_id, toks,
                              unnest(generate_series(0, len(toks) - 8)) AS i
                       FROM t WHERE len(toks) >= 8)),
          ost AS (SELECT DISTINCT ${dHash(s"concat_ws(' ', $spanCat)")} AS h
                  FROM (SELECT toks,
                               unnest(generate_series(0, len(toks) - 8)) AS i
                        FROM (SELECT string_split(text, ' ') AS toks
                              FROM documents WHERE doc_id % 5 != 0)
                        WHERE len(toks) >= 8)),
          rem AS (SELECT doc_id, pos FROM (
                    SELECT s.doc_id, s.pos, o.h AS oh,
                           row_number() OVER (PARTITION BY s.h
                             ORDER BY s.doc_id, s.pos) AS rn
                    FROM sp s LEFT JOIN ost o ON o.h = s.h)
                  WHERE oh IS NOT NULL OR rn > 1),
          tokpos AS (SELECT doc_id, unnest(toks) AS tok,
                            unnest(range(len(toks))) AS i
                     FROM t),
          kept AS (SELECT tp.doc_id, tp.tok, tp.i FROM tokpos tp
                   WHERE NOT EXISTS (SELECT 1 FROM rem r
                     WHERE r.doc_id = tp.doc_id
                       AND r.pos <= tp.i AND tp.i < r.pos + 8)),
          outp AS (SELECT doc_id, count(*) AS n_kept,
                          string_agg(tok, ' ' ORDER BY i) AS dedup_text
                   FROM kept GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                 CAST(len(t.toks) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
                 coalesce(o.dedup_text, '') AS dedup_text
          FROM t LEFT JOIN outp o USING (doc_id) ORDER BY t.doc_id"""
    },

    // CCNet line-grain boilerplate oracle: grouping on the line TEXT is
    // equality-equivalent to Spark's 60-bit hash grouping; same
    // 10-token reflow as the Spark registration
    "td_line_dedup" ->
      s"""WITH t AS (SELECT doc_id,
                            list_transform(
                              generate_series(0, (len(toks) - 1) // 10),
                              i -> array_to_string(
                                list_slice(toks, i * 10 + 1, i * 10 + 10), ' '))
                              AS lns
                     FROM (SELECT doc_id, string_split(text, ' ') AS toks
                           FROM documents)),
          lp AS (SELECT doc_id, unnest(lns) AS line,
                        unnest(range(len(lns))) AS i
                 FROM t),
          heavy AS (SELECT line FROM (
                      SELECT line, count(DISTINCT doc_id) AS nd
                      FROM lp GROUP BY line) WHERE nd > 3),
          kept AS (SELECT lp.doc_id, lp.line, lp.i FROM lp
                   WHERE NOT EXISTS (SELECT 1 FROM heavy h
                     WHERE h.line = lp.line)),
          outp AS (SELECT doc_id, count(*) AS n_kept,
                          string_agg(line, chr(10) ORDER BY i) AS dedup_text
                   FROM kept GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.lns) AS BIGINT) AS n_lines,
                 CAST(len(t.lns) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
                 coalesce(o.dedup_text, '') AS dedup_text
          FROM t LEFT JOIN outp o USING (doc_id) ORDER BY t.doc_id""",

    "td_split" ->
      s"""SELECT doc_id,
                 CASE WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 90
                      THEN 'train'
                      WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 95
                      THEN 'val' ELSE 'test' END AS split
          FROM documents ORDER BY doc_id""",

    "td_heavy_hitters" ->
      """SELECT t AS term, count(*) AS n, true AS cms_within_bound
         FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         GROUP BY t ORDER BY n DESC, term ASC LIMIT 10""",

    "td_token_budget" ->
      s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
                 CAST(len(regexp_extract_all(text, '${TextOps.BpePiecePattern}')) AS BIGINT) AS bpe_pieces,
                 round(CAST(len(regexp_extract_all(text, '${TextOps.BpePiecePattern}')) AS DOUBLE)
                       / greatest(len(string_split(text, ' ')), 1), 6) AS pieces_per_word
          FROM documents ORDER BY doc_id""",

    "td_pack" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
               FROM t)
         SELECT doc_id, n_tokens, cum_before,
                CAST(floor(cum_before / 64) AS BIGINT) AS pack_id,
                cum_before % 64 AS offset_in_pack
         FROM c ORDER BY doc_id""",

    "td_pii_scrub" ->
      s"""SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ips,
                 CAST(len(regexp_extract_all(text, '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
                     '${TextOps.Ipv4Pattern}', '<IP>', 'g'),
                   '${TextOps.PhonePattern}', '<PHONE>', 'g') AS scrubbed
          FROM documents ORDER BY doc_id""",

    "td_length_buckets" ->
      s"""WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents),
          k AS (
            SELECT doc_id, n_tokens,
                   n_tokens // $LbWidth AS bucket,
                   ${dHash("concat('lb:', doc_id)")} % $LbSub AS sub_bucket,
                   ${dHash("concat('lbo:', doc_id)")} AS sk
            FROM t)
          SELECT doc_id, n_tokens, bucket, sub_bucket,
                 CAST((row_number() OVER (PARTITION BY bucket, sub_bucket
                        ORDER BY sk, doc_id) - 1) // $LbBatch AS BIGINT) AS batch_id
          FROM k ORDER BY doc_id""",

    "td_pad_waste" -> {
      def wasteSql(width: String, strategy: String) =
        s"""SELECT '$strategy' AS strategy,
                   count(*) AS n_batches,
                   round(1.0 - CAST(sum(toks) AS DOUBLE)
                         / CAST(sum(cap * n) AS DOUBLE), 6) AS padding_frac
            FROM (
              SELECT bucket, sub_bucket, batch_id, max(n_tokens) AS cap,
                     count(*) AS n, sum(n_tokens) AS toks
              FROM (
                SELECT doc_id, n_tokens, bucket, sub_bucket,
                       (row_number() OVER (PARTITION BY bucket, sub_bucket
                          ORDER BY sk, doc_id) - 1) // $LbBatch AS batch_id
                FROM (SELECT doc_id, n_tokens,
                             n_tokens // $width AS bucket,
                             ${dHash("concat('lb:', doc_id)")} % $LbSub AS sub_bucket,
                             ${dHash("concat('lbo:', doc_id)")} AS sk
                      FROM t))
              GROUP BY bucket, sub_bucket, batch_id)"""
      s"""WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents)
          SELECT * FROM (
            ${wasteSql(LbWidth.toString, "length_bucketed")}
            UNION ALL
            ${wasteSql(Int.MaxValue.toString, "naive")})
          ORDER BY strategy"""
    },

    "txt_gopher" -> duckGopherRulesSql,

    "txt_c4" ->
      """WITH g AS (
           SELECT doc_id, text, string_split(text, chr(10)) AS lns
           FROM documents),
         r AS (
           SELECT doc_id,
                  len(lns) AS n_lines,
                  len(list_filter(lns, l -> regexp_matches(l, '[.!?"]$')
                        AND len(string_split(l, ' ')) >= 5)) AS n_kept_lines,
                  CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem_ipsum,
                  CAST(contains(text, '{') AS INT) AS has_brace
           FROM g)
         SELECT doc_id, n_lines, n_kept_lines,
                round(n_kept_lines / CAST(n_lines AS DOUBLE), 6) AS frac_kept_lines,
                has_lorem_ipsum, has_brace,
                CAST(n_kept_lines >= 3 AND has_lorem_ipsum = 0 AND has_brace = 0
                  AS INT) AS pass_c4
         FROM r ORDER BY doc_id""",

    "td_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         tf AS (SELECT doc_id, max(c) AS max_tok FROM (
                  SELECT doc_id, t, count(*) AS c
                  FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY doc_id, t)
                GROUP BY doc_id),
         bf AS (SELECT doc_id, max(c) AS max_bg FROM (
                  SELECT doc_id, g, count(*) AS c FROM (
                    SELECT doc_id,
                           unnest(list_transform(generate_series(0, len(toks) - 2),
                                  i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS g
                    FROM tok WHERE len(toks) >= 2) GROUP BY doc_id, g)
                GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                round(CAST(len(list_distinct(t.toks)) AS DOUBLE) / greatest(len(t.toks), 1), 6) AS distinct_ratio,
                round(CAST(f.max_tok AS DOUBLE) / greatest(len(t.toks), 1), 6) AS top_token_fraction,
                round(CAST(coalesce(b.max_bg, 0) AS DOUBLE) / greatest(len(t.toks) - 1, 1), 6) AS top_bigram_fraction
         FROM tok t JOIN tf f USING (doc_id) LEFT JOIN bf b USING (doc_id)
         ORDER BY t.doc_id""",

    "td_decontaminate" ->
      s"""WITH $duckShingles,
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
          corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 != 0)
          SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM corpus c JOIN bench b USING (shingle)
          GROUP BY c.doc_id ORDER BY c.doc_id""",

    // the clean-corpus complement of td_decontaminate — Bloom prefilter
    // plus exact confirm on the Spark side must reproduce the exact answer
    "td_bloom_decontaminate" ->
      s"""WITH $duckShingles,
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
          hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
                   WHERE s.doc_id % 97 != 0)
          SELECT doc_id, source, n_chars FROM documents
          WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
          ORDER BY doc_id""",

    "td_overlap_frac" ->
      s"""WITH $duckShingles,
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
          SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(coalesce(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 END), 0)
                      AS BIGINT) AS n_hits,
                 round(CAST(coalesce(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 END), 0)
                      AS DOUBLE) / count(*), 6) AS overlap_frac
          FROM sh s LEFT JOIN bench b USING (shingle)
          WHERE s.doc_id % 97 != 0
          GROUP BY s.doc_id ORDER BY doc_id""",

    "td_contamination_report" ->
      s"""WITH $duckShingles,
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
          frac AS (
            SELECT s.doc_id,
                   round(CAST(coalesce(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 END), 0)
                        AS DOUBLE) / count(*), 6) AS overlap_frac
            FROM sh s LEFT JOIN bench b USING (shingle)
            WHERE s.doc_id % 97 != 0
            GROUP BY s.doc_id)
          SELECT d.source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN overlap_frac >= $ContamReportThreshold
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                 round(avg(overlap_frac), 6) AS mean_overlap,
                 round(max(overlap_frac), 6) AS max_overlap
          FROM frac JOIN documents d USING (doc_id)
          GROUP BY d.source ORDER BY d.source""",

    "td_dsir" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          b AS (SELECT doc_id, ${dHash("tok")} % 64 AS bucket FROM tk),
          rawd AS (SELECT bucket, count(*) AS c_raw FROM b WHERE doc_id % 97 != 0 GROUP BY bucket),
          tgtd AS (SELECT bucket, count(*) AS c_tgt FROM b WHERE doc_id % 97 = 0 GROUP BY bucket),
          tot AS (SELECT (SELECT CAST(sum(c_raw) AS DOUBLE) FROM rawd) AS t_raw,
                         (SELECT CAST(sum(c_tgt) AS DOUBLE) FROM tgtd) AS t_tgt),
          ratio AS (SELECT coalesce(r.bucket, g.bucket) AS bucket,
              log2(((coalesce(c_tgt, 0) + 1) / (t_tgt + 64)) /
                   ((coalesce(c_raw, 0) + 1) / (t_raw + 64))) AS log2_ratio
            FROM rawd r FULL OUTER JOIN tgtd g ON r.bucket = g.bucket, tot)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 round(CAST(sum(log2_ratio) AS DOUBLE), 6) AS log2_weight
          FROM b JOIN ratio USING (bucket) WHERE doc_id % 97 != 0
          GROUP BY doc_id ORDER BY doc_id""",

    "td_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          segs AS (
            SELECT doc_id, u.seg_idx, u.seg FROM (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(0, greatest(CAST(ceil(len(toks) / 16.0) AS INT) - 1, 0)),
                       i -> {'seg_idx': i,
                             'seg': array_to_string(list_slice(toks, i*16 + 1, i*16 + 16), ' ')})) AS u
              FROM t)),
          df AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg)
          SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(coalesce(sum(CASE WHEN d.seg_df > 1 THEN 1 END), 0) AS BIGINT) AS n_dup_segments,
                 coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_idx) FILTER (WHERE d.seg_df <= 1), '')
                   AS cleaned_text
          FROM segs s JOIN df d USING (seg)
          GROUP BY s.doc_id ORDER BY doc_id""",

    "td_temperature_mix" ->
      """WITH s AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                    FROM documents GROUP BY source),
          t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS sum_pow,
                       CAST(sum(n_tokens) AS DOUBLE) AS sum_tokens FROM s)
          SELECT source, n_tokens,
                 round(pow(CAST(n_tokens AS DOUBLE), 0.5) / sum_pow, 6) AS weight,
                 round(pow(CAST(n_tokens AS DOUBLE), 0.5) / sum_pow * sum_tokens / n_tokens, 6)
                   AS epochs
          FROM s, t ORDER BY source""",

    // rep is the ROUNDED mixture factor; fractional admission compares
    // integer micro-units, so no float compare crosses engines
    "td_epoch_plan" ->
      s"""WITH s AS (SELECT source,
                            CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                              AS n_tokens
                     FROM documents GROUP BY source),
          t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS sum_pow,
                       CAST(sum(n_tokens) AS DOUBLE) AS sum_tokens FROM s),
          mix AS (SELECT source,
                         round(pow(CAST(n_tokens AS DOUBLE), 0.5) / sum_pow
                               * sum_tokens / n_tokens, 6) AS rep
                  FROM s, t)
          SELECT d.doc_id, d.source, m.rep,
                 CAST(floor(m.rep) AS BIGINT)
                   + CASE WHEN ${dHash("concat('epoch:', CAST(doc_id AS VARCHAR))")}
                               % 1000000
                               < CAST(round((m.rep - floor(m.rep)) * 1000000.0)
                                      AS BIGINT)
                          THEN 1 ELSE 0 END AS n_copies
          FROM documents d JOIN mix m USING (source)
          ORDER BY d.doc_id""",

    "td_kneser_ney" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                      WHERE len(string_split(text, ' ')) >= 2),
          bg AS (SELECT doc_id, u.prev, u.cur FROM (
            SELECT doc_id, unnest(list_transform(generate_series(0, len(toks) - 2),
              i -> {'prev': toks[i+1], 'cur': toks[i+2]})) AS u FROM tok)),
          bgc AS (SELECT prev, cur, count(*) AS cnt_b FROM bg GROUP BY prev, cur),
          pre AS (SELECT prev, sum(cnt_b) AS cnt_prev, count(*) AS n_follow FROM bgc GROUP BY prev),
          cont AS (SELECT cur, count(*) AS n_precede FROM bgc GROUP BY cur),
          ty AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM bgc)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 round(avg(log2((cnt_b - 0.75)/cnt_prev +
                                0.75*n_follow/cnt_prev*(n_precede/n_types))), 6) AS avg_log2p
          FROM bg JOIN bgc USING (prev, cur) JOIN pre USING (prev) JOIN cont USING (cur), ty
          GROUP BY doc_id ORDER BY doc_id""",

    "td_auc" ->
      """WITH v AS (SELECT n_chars AS s,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos_v,
                 sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nneg_v
               FROM documents GROUP BY n_chars),
          c AS (SELECT s, npos_v, nneg_v,
                 coalesce(sum(nneg_v) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg_below
               FROM v)
          SELECT CAST(sum(npos_v) AS BIGINT) AS n_pos,
                 CAST(sum(nneg_v) AS BIGINT) AS n_neg,
                 round(sum(npos_v * (cumneg_below + CAST(nneg_v AS DOUBLE) / 2)) /
                       (sum(npos_v) * sum(nneg_v)), 6) AS auc
          FROM c""",

    "td_calibration" ->
      """WITH q AS (
            SELECT doc_id,
                   round(CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) /
                     len(string_split(text, ' ')), 6) AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM documents)
          SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 round(avg(s), 6) AS mean_score,
                 round(avg(y), 6) AS pos_rate
          FROM q GROUP BY 1 ORDER BY bin""",

    "td_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM tf),
         sc AS (SELECT t.doc_id, d.lang,
                       round(avg(log2(cnt / corpus_tokens)), 6) AS avg_log2p
                FROM toks t JOIN tf USING (term), tot
                JOIN documents d ON t.doc_id = d.doc_id
                GROUP BY t.doc_id, d.lang),
         v AS (SELECT lang, avg_log2p AS s, count(*) AS c FROM sc GROUP BY 1, 2),
         cm AS (SELECT lang, s,
                  sum(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cumc FROM v),
         nl AS (SELECT lang, count(*) AS n FROM sc GROUP BY lang),
         cuts AS (SELECT lang,
                    max(CASE WHEN cumc >= CAST(ceil(n / 3.0) AS BIGINT)
                             THEN s END) AS c_head,
                    max(CASE WHEN cumc >= CAST(ceil(2 * n / 3.0) AS BIGINT)
                             THEN s END) AS c_mid
                  FROM cm JOIN nl USING (lang) GROUP BY lang)
         SELECT sc.doc_id, sc.lang, sc.avg_log2p,
                CASE WHEN sc.avg_log2p >= c_head THEN 'head'
                     WHEN sc.avg_log2p >= c_mid THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
         FROM sc JOIN cuts USING (lang) ORDER BY doc_id""",

    // curriculum: the ppl-bucket chain, then a sequential ROW_NUMBER over
    // (stage, salt, key, doc) — the Spark side's shard-rank + offset
    // construction is mathematically identical to this total order
    "td_curriculum" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                        FROM documents),
          tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM tf),
          sc AS (SELECT t.doc_id, d.lang,
                        round(avg(log2(cnt / corpus_tokens)), 6) AS avg_log2p
                 FROM toks t JOIN tf USING (term), tot
                 JOIN documents d ON t.doc_id = d.doc_id
                 GROUP BY t.doc_id, d.lang),
          v AS (SELECT lang, avg_log2p AS s, count(*) AS c FROM sc GROUP BY 1, 2),
          cm AS (SELECT lang, s,
                   sum(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cumc FROM v),
          nl AS (SELECT lang, count(*) AS n FROM sc GROUP BY lang),
          cuts AS (SELECT lang,
                     max(CASE WHEN cumc >= CAST(ceil(n / 3.0) AS BIGINT)
                              THEN s END) AS c_head,
                     max(CASE WHEN cumc >= CAST(ceil(2 * n / 3.0) AS BIGINT)
                              THEN s END) AS c_mid
                   FROM cm JOIN nl USING (lang) GROUP BY lang),
          bk AS (SELECT sc.doc_id, sc.lang,
                        CASE WHEN sc.avg_log2p >= c_head THEN 'head'
                             WHEN sc.avg_log2p >= c_mid THEN 'middle'
                             ELSE 'tail' END AS ppl_bucket
                 FROM sc JOIN cuts USING (lang)),
          staged AS (SELECT doc_id, lang, ppl_bucket,
                       CASE ppl_bucket WHEN 'head' THEN 0
                            WHEN 'middle' THEN 1 ELSE 2 END AS stage,
                       ${dHash("concat('curr:', CAST(doc_id AS VARCHAR))")} AS skey
                     FROM bk)
          SELECT doc_id, lang, ppl_bucket, stage,
                 row_number() OVER (ORDER BY stage, skey % 64, skey, doc_id)
                   AS ord_idx
          FROM staged ORDER BY doc_id""",

    "td_winnow" -> {
      val gramHash = dHash("array_to_string(list_slice(toks, i+1, i+3), ' ')")
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
          g AS (SELECT doc_id, u.pos, u.h FROM (
            SELECT doc_id, unnest(list_transform(generate_series(0, len(toks) - 3),
              i -> {'pos': i, 'h': $gramHash})) AS u
            FROM tok)),
          fp AS (SELECT DISTINCT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(fp) AS fp_min,
                 max(fp) AS fp_max, CAST(sum(fp % 1048576) AS BIGINT) AS fp_checksum
          FROM fp GROUP BY doc_id ORDER BY doc_id"""
    },

    "td_fingerprint" ->
      s"""WITH $duckShingles,
          w AS (SELECT doc_id, min(md5(shingle)) AS winnow_fp FROM sh GROUP BY doc_id)
          SELECT d.doc_id, w.winnow_fp,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(d.text, ' '),
                       t -> ${dHash("t")} % 65536)),
                   (acc, v) -> (acc * 31 + v) % 1099511627776) AS rolling_fp,
                 ${dHash("d.text")} AS doc_hash
          FROM documents d LEFT JOIN w USING (doc_id) ORDER BY doc_id""",

    "td_minhash_sig" -> {
      val mins = (0 until 4).map(i =>
        s"min(${dHash(s"concat('$i:', shingle)")}) AS mh_$i").mkString(", ")
      s"""WITH $duckShingles,
          mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
          SELECT doc_id, mh_0, mh_1, mh_2, mh_3,
                 md5(concat_ws('_', 0, mh_0, mh_1)) AS band_0,
                 md5(concat_ws('_', 1, mh_2, mh_3)) AS band_1
          FROM mh ORDER BY doc_id"""
    },

    // truth = the source-blocked token-jaccard pairs, candidates = banded
    // shingle LSH — the same CTE bundles the individual oracles use
    "td_lsh_recall" ->
      s"""WITH $duckNearDupCtes, $duckLshCandCtes,
          truth AS (SELECT doc_id_a, doc_id_b FROM p
                    WHERE round(CAST(inter AS DOUBLE) / un, 6) >= 0.5),
          hit AS (SELECT t.doc_id_a FROM truth t
                  JOIN lshcand c USING (doc_id_a, doc_id_b))
          SELECT n_true, n_candidates, n_hit,
                 round(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall
          FROM (SELECT count(*) AS n_true FROM truth)
          CROSS JOIN (SELECT count(*) AS n_candidates FROM lshcand)
          CROSS JOIN (SELECT count(*) AS n_hit FROM hit)""",

    "td_near_dup_pairs" ->
      s"""WITH $duckNearDupCtes
          SELECT doc_id_a, doc_id_b,
                 round(CAST(inter AS DOUBLE) / un, 6) AS jaccard, hamming_distance
          FROM p WHERE round(CAST(inter AS DOUBLE) / un, 6) >= 0.5
          ORDER BY doc_id_a, doc_id_b""",

    // connected components over the near-dup graph via recursive closure:
    // every node paired with every label reachable in its component; the
    // min is the component's canonical id (matches Spark's min-label
    // propagation fixpoint exactly)
    "td_dedup_clusters" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
          nd AS (SELECT doc_id_a, doc_id_b FROM p
                 WHERE round(CAST(inter AS DOUBLE) / un, 6) >= 0.5),
          edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                    UNION SELECT doc_id_b, doc_id_a FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node)
          SELECT node AS doc_id, min(label) AS canonical_id
          FROM cc GROUP BY node ORDER BY doc_id""",

    "td_simhash" ->
      s"""WITH $duckSimhash
          SELECT doc_id, simhash FROM simhash ORDER BY doc_id""",

    "td_tfidf_top_term" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df
                   FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                  round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         SELECT doc_id, term AS top_term, tf, df, tfidf
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rk FROM scored)
         WHERE rk = 1 ORDER BY doc_id""",

    // same float association as TextOps.bm25TopK: k1=1.2 b=0.75 appear as
    // the identical literals (2.2 = k1+1, 0.25 = 1-b), parens mirrored
    "td_bm25" ->
      s"""WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                             string_split(text, ' ') AS toks FROM documents),
          stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl
                    FROM dl),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
                   SELECT doc_id, dl, unnest(toks) AS term FROM dl)
                 WHERE term IN ($bm25TermList) GROUP BY 1, 2, 3),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
          SELECT doc_id, round(sum(score), 6) AS bm25,
                 count(*) AS n_terms FROM (
            SELECT tf.doc_id,
                   ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5)) *
                   ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *
                     (dl / (sum_dl / n_docs))))) AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
          GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""",

    // late interaction: vocab-grain cosines, per-doc max per query term,
    // FIXED-ORDER column sum (m_0 + m_1 + …) — no float aggregate
    "td_late_interaction" -> {
      val simCols = Bm25Terms.zipWithIndex.map { case (q, i) =>
        val qv = dLiVec(s"'$q'")
        s"""round(list_dot_product(v, $qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product($qv, $qv))),
             6) AS s_$i"""
      }.mkString(",\n ")
      val maxCols = Bm25Terms.indices.map(i => s"max(s.s_$i) AS m_$i").mkString(", ")
      val mList = Bm25Terms.indices.map(i => s"m_$i").mkString(", ")
      val sumExpr = Bm25Terms.indices.map(i => s"m_$i").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id,
                               unnest(list_distinct(string_split(text, ' ')))
                                 AS term
                        FROM documents),
          vocab AS (SELECT DISTINCT term FROM toks),
          tv AS (SELECT term, ${dLiVec("term")} AS v FROM vocab),
          sims AS (SELECT term, $simCols FROM tv),
          per AS (SELECT t.doc_id, $maxCols
                  FROM toks t JOIN sims s USING (term) GROUP BY t.doc_id)
          SELECT doc_id, $mList, round($sumExpr, 6) AS li_score
          FROM per ORDER BY li_score DESC, doc_id LIMIT 10"""
    },

    // window cumsum over integers → engine-exact; hash order via dHash
    "td_budget_sample" ->
      s"""WITH t AS (SELECT doc_id, source,
                            len(string_split(text, ' ')) AS n_tokens,
                            ${dHash("concat('budget:', CAST(doc_id AS VARCHAR))")} AS h
                     FROM documents)
          SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
                 CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
            SELECT doc_id, source, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY source
                     ORDER BY h ASC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_tokens
            FROM t)
          WHERE cum_tokens <= 800 ORDER BY doc_id""",

    "emb_hard_negatives" ->
      s"""WITH e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                      FROM embeddings),
          q2 AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb
                 FROM e2 WHERE vec_id < 5)
          SELECT query_id, qlabel, neighbor_id, label,
                 round(cos, 6) AS cosine, CAST(rk AS INT) AS neg_rank FROM (
            SELECT q2.query_id, q2.qlabel, e2.vec_id AS neighbor_id, e2.label,
                   ${dCos("q2.qemb", "e2.emb")} AS cos,
                   row_number() OVER (PARTITION BY q2.query_id
                     ORDER BY ${dCos("q2.qemb", "e2.emb")} DESC, e2.vec_id ASC)
                     AS rk
            FROM q2, e2 WHERE e2.label != q2.qlabel)
          WHERE rk <= 5 ORDER BY query_id, neg_rank""",

    // v0 = 1/sqrt(64) = 0.125 — exact in binary, so the start vector is
    // bit-identical across engines; idx shifted to Spark's 0-based pos
    "emb_pca_power" -> {
      val v0List = "CAST([" + Seq.fill(64)("0.125").mkString(",") + "] AS DOUBLE[])"
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          mu AS (SELECT list(m ORDER BY idx) AS muarr FROM (
            SELECT idx, avg(v) AS m FROM (
              SELECT generate_subscripts(emb, 1) AS idx, unnest(emb) AS v FROM e)
            GROUP BY idx)),
          c AS (SELECT list_transform(generate_series(1, 64),
                         i -> emb[i] - muarr[i]) AS cx
                FROM e CROSS JOIN mu),
          cs AS (SELECT cx, list_dot_product(cx, $v0List) AS s FROM c),
          o AS (SELECT idx, sum(cv * s) AS uv FROM (
            SELECT generate_subscripts(cx, 1) AS idx, unnest(cx) AS cv, s FROM cs)
            GROUP BY idx),
          n AS (SELECT sqrt(sum(uv * uv)) AS nrm FROM o)
          SELECT CAST(idx - 1 AS INT) AS idx, round(uv / nrm, 6) AS component
          FROM o CROSS JOIN n ORDER BY idx""" },

    // same association as the Spark side: (a·a − 2(a·b)) + b·b
    "emb_outliers" ->
      s"""WITH $duckCosPrelude, $duckCentroids
          SELECT cell, vec_id, round(d2, 6) AS dist2, CAST(rk AS INT) AS far_rank
          FROM (
            SELECT e.cell, e.vec_id, ${dDist2("e.emb", "cent.cemb")} AS d2,
                   row_number() OVER (PARTITION BY e.cell
                     ORDER BY ${dDist2("e.emb", "cent.cemb")} DESC, e.vec_id ASC)
                     AS rk
            FROM e JOIN cent USING (cell))
          WHERE rk <= 3 ORDER BY cell, far_rank""",

    // RRF fusion: full-outer union of the two rank lists, each reciprocal
    // term coalesced to 0 when a leg missed the doc (standard RRF)
    "emb_hybrid_rrf" ->
      s"""WITH $duckCosPrelude,
          vec AS (SELECT query_id, neighbor_id AS doc_id,
                         CAST(knn_rank AS INT) AS vec_rank FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC)
                     AS knn_rank
            FROM q, e WHERE e.vec_id != q.query_id) WHERE knn_rank <= 20),
          dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
          qd AS (SELECT doc_id AS query_id, term FROM dt WHERE doc_id < 5),
          ov AS (SELECT query_id, dt.doc_id, count(*) AS overlap
                 FROM dt JOIN qd USING (term) WHERE dt.doc_id != query_id
                 GROUP BY 1, 2),
          kw AS (SELECT query_id, doc_id, CAST(rk AS INT) AS kw_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY overlap DESC, doc_id ASC) AS rk FROM ov)
            WHERE rk <= 20),
          fused AS (
            SELECT query_id, doc_id, kw_rank, vec_rank,
                   round(coalesce(CAST(1 AS DOUBLE) / (60 + kw_rank), 0.0) +
                         coalesce(CAST(1 AS DOUBLE) / (60 + vec_rank), 0.0), 6)
                     AS rrf
            FROM kw FULL JOIN vec USING (query_id, doc_id))
          SELECT query_id, doc_id, rrf, kw_rank, vec_rank,
                 CAST(frk AS INT) AS fused_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rrf DESC, doc_id ASC) AS frk FROM fused)
          WHERE frk <= 10 ORDER BY query_id, fused_rank""",

    "emb_quant_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          s AS (SELECT vec_id, emb,
                       list_max(list_transform(emb, v -> abs(v))) / 127.0 AS rawscale
                FROM e),
          qz AS (SELECT vec_id, emb, round(rawscale, 9) AS scale,
                        list_transform(emb, v -> CAST(trunc(v / rawscale) AS INT)) AS qv
                 FROM s),
          qu AS (SELECT vec_id AS query_id, emb AS qemb, qv AS qqv, scale AS qscale
                 FROM qz WHERE vec_id < 5),
          scored AS (
            SELECT qu.query_id, z.vec_id AS neighbor_id,
                   round(list_dot_product(qu.qqv, z.qv) * qu.qscale * z.scale, 6) AS est,
                   round(${dCos("qu.qemb", "z.emb")}, 6) AS true_cosine
            FROM qu JOIN qz z ON z.vec_id != qu.query_id)
          SELECT query_id, neighbor_id, est, true_cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY est DESC, neighbor_id) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         s AS (SELECT vec_id, emb,
                      list_max(list_transform(emb, v -> abs(v))) / 127.0 AS scale
               FROM e),
         q AS (SELECT vec_id, round(scale, 9) AS scale,
                      list_transform(emb, v -> CAST(trunc(v / scale) AS INT)) AS qv
               FROM s)
         SELECT vec_id, scale, qv[1] AS q_0, qv[2] AS q_1, qv[3] AS q_2, qv[4] AS q_3,
                CAST(list_sum(qv) AS BIGINT) AS q_sum
         FROM q ORDER BY vec_id""",

    "emb_pq_codes" ->
      s"""WITH $duckCosPrelude, $duckCentroids, $duckPqSub, $duckPqCodes
          SELECT vec_id, code_0, code_1, code_2, code_3 FROM codes
          ORDER BY vec_id""",

    "emb_pq_knn" ->
      s"""WITH $duckCosPrelude, $duckCentroids, $duckPqSub, $duckPqCodes,
          lut AS (
            SELECT q.query_id, s.cell,
                   ${(0 until PqM).map(j => dDist2(
                     s"q.qemb[${j * PqDsub + 1}:${(j + 1) * PqDsub}]",
                     s"s.s_$j") + s" AS d_$j").mkString(", ")}
            FROM q, sub s),
          scored AS (
            SELECT l0.query_id, c.vec_id AS neighbor_id,
                   ((l0.d_0 + l1.d_1) + l2.d_2) + l3.d_3 AS est
            FROM codes c
            JOIN lut l0 ON l0.cell = c.code_0
            JOIN lut l1 ON l1.query_id = l0.query_id AND l1.cell = c.code_1
            JOIN lut l2 ON l2.query_id = l0.query_id AND l2.cell = c.code_2
            JOIN lut l3 ON l3.query_id = l0.query_id AND l3.cell = c.code_3
            WHERE c.vec_id != l0.query_id)
          SELECT query_id, neighbor_id, round(est, 6) AS est_dist,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY est ASC, neighbor_id ASC) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "td_term_topk" ->
      """SELECT term, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         GROUP BY 1 ORDER BY freq DESC, term LIMIT 20""",

    "td_pmi_pairs" ->
      """WITH dt AS (
           SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
         dfc AS (SELECT term, count(*) AS df FROM dt GROUP BY 1
                 HAVING count(*) BETWEEN 10 AND 400),
         banded AS (SELECT dt.doc_id, dt.term, dfc.df FROM dt JOIN dfc USING (term)),
         n AS (SELECT count(*) AS n FROM documents),
         pairs AS (
           SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
                  count(*) AS df_ab
           FROM banded a JOIN banded b
             ON a.doc_id = b.doc_id AND a.term < b.term
           GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5)
         SELECT term_a, term_b, df_a, df_b, df_ab,
                round(ln(CAST(df_ab AS DOUBLE) * n.n / (CAST(df_a AS DOUBLE) * df_b)), 6)
                  AS pmi
         FROM pairs CROSS JOIN n
         ORDER BY pmi DESC, term_a, term_b LIMIT 20""",

    "td_corpus_stats" ->
      """SELECT count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_tokens,
                count(DISTINCT term) AS vocabulary,
                count(DISTINCT md5(text)) AS n_unique_contents,
                count(DISTINCT lang) AS n_langs,
                round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                      / count(DISTINCT doc_id), 6) AS dup_ratio
         FROM (SELECT doc_id, lang, text,
                      unnest(string_split(text, ' ')) AS term
               FROM documents)""",

    "td_normalize" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
         FROM documents ORDER BY doc_id""",

    "td_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                      unnest(generate_series(0,
                        CAST(greatest(ceil(CAST(len(toks) - 32 AS DOUBLE) / 24), 0) AS INT)))
                        AS chunk_idx
               FROM t)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
                  AS chunk_text,
                CAST(least(len(toks) - chunk_idx * 24, 32) AS INT) AS chunk_tokens
         FROM c ORDER BY doc_id, chunk_idx""",

    "td_mixture_sample" ->
      s"""WITH counts AS (SELECT source, count(*) AS n_docs FROM documents
                          GROUP BY source),
          m AS (SELECT min(n_docs) AS minn FROM counts),
          rates AS (SELECT source, n_docs, (100 * minn) // n_docs AS rate_pct
                    FROM counts, m)
          SELECT r.source, r.n_docs, r.rate_pct,
                 CAST(sum(CASE WHEN ${dHash(
                   "concat('mix:', CAST(d.doc_id AS VARCHAR))")} % 100 < r.rate_pct
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM documents d JOIN rates r USING (source)
          GROUP BY r.source, r.n_docs, r.rate_pct ORDER BY r.source""",

    "td_source_kl" ->
      """WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term
                        FROM documents),
         corpus AS (SELECT term, count(*) AS c_t FROM terms GROUP BY term),
         tot AS (SELECT CAST(sum(c_t) AS DOUBLE) AS total FROM corpus),
         st AS (SELECT source, term, count(*) AS c_st FROM terms GROUP BY 1, 2),
         ts AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s FROM st GROUP BY 1)
         SELECT st.source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
                count(*) AS vocab,
                round(sum((c_st / CAST(t_s AS DOUBLE)) *
                          log2((c_st / CAST(t_s AS DOUBLE)) / (c_t / total))), 6)
                  AS kl_bits
         FROM st JOIN ts USING (source) JOIN corpus USING (term) CROSS JOIN tot
         GROUP BY st.source ORDER BY st.source""",

    "td_stratified_topn" ->
      s"""SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY ${dHash("concat('strat:', CAST(doc_id AS VARCHAR))")} ASC,
                              doc_id ASC) AS rk
            FROM documents)
          WHERE rk <= 5 ORDER BY doc_id""",

    "td_hash_sample" ->
      s"""SELECT doc_id, source,
                 ${dHash("concat('sample:', CAST(doc_id AS VARCHAR))")} % 100 AS sample_bucket
          FROM documents
          WHERE ${dHash("concat('sample:', CAST(doc_id AS VARCHAR))")} % 100 <
                CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 50 ELSE 20 END
          ORDER BY doc_id""",

    "td_lsh_candidates" ->
      s"""WITH $duckLshCandCtes
          SELECT doc_id_a, doc_id_b, n_shared_bands, jaccard FROM lshcand
          ORDER BY doc_id_a, doc_id_b""",

    // (delta form of the banded-LSH chain: bands carry the new-slice
    // flag and candidates join new×old only)
    "td_delta_dedup" ->
      s"""WITH $duckDeltaLshCtes
          SELECT doc_id_new, doc_id_old, n_shared_bands, jaccard
          FROM deltacand ORDER BY doc_id_new, doc_id_old""",

    "td_corpus_diff" ->
      """WITH cur AS (SELECT doc_id, source, text FROM documents),
         prev AS (
           SELECT doc_id, source,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 != 0
           UNION ALL
           SELECT doc_id + 1000000, source, text FROM documents
           WHERE doc_id % 11 = 0),
         j AS (
           SELECT coalesce(b.source, a.source) AS source,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN md5(a.text) != md5(b.text) THEN 'changed'
                       ELSE 'unchanged' END AS status
           FROM prev a FULL OUTER JOIN cur b ON a.doc_id = b.doc_id)
         SELECT source,
                CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         FROM j GROUP BY source ORDER BY source""",

    "td_lsh_plan" -> duckLshPlanSql,

    // mirrors ScaleKnobs.advise: same integer arithmetic (ceil-division
    // as (n+d-1)//d, the plane search as min-p over a shift series, the
    // coarse count as an integer-sqrt max-g scan), so the values are
    // engine-exact with no float log2/sqrt on either side. The SQL is
    // GENERATED from the same named ScaleKnobs constants the Scala side
    // uses — a default change flows into both engines at once instead of
    // silently diverging from a hardcoded literal (r6 ADVICE). The
    // coalesce saturates the plane search at the cap exactly like the
    // Scala loop does past ~7e17 vectors (r6 ADVICE)
    "td_scale_knobs" -> duckScaleKnobsSql,

    "td_curation_audit" -> duckCurationAuditSql,

    "td_unigram_vocab" ->
      s"""WITH $duckUnigramCtes
          SELECT piece, CAST(cnt AS BIGINT) AS cnt, round(p, 6) AS prob
          FROM vocab ORDER BY piece""",

    "td_unigram_score" ->
      s"""WITH $duckUnigramCtes
          SELECT word, CAST(wcount AS BIGINT) AS wcount,
                 round(ln(vit[L + 1]), 6) AS viterbi_logp,
                 round(ln(alpha[L + 1]), 6) AS marginal_logp
          FROM dp ORDER BY word""",

    "td_unigram_train" -> duckUnigramTrainSql,

    "td_unigram_segment" -> duckUnigramSegmentSql,

    "td_unigram_prune" -> duckUnigramPruneSql,

    "td_unigram_full" -> duckUnigramFullSql,

    "txt_gopher_rep" -> duckGopherRepSql,

    "txt_gopher_full" ->
      s"""SELECT a.doc_id, a.pass_gopher, b.pass_gopher_rep,
                 CAST(a.pass_gopher = 1 AND b.pass_gopher_rep = 1 AS INT)
                   AS pass_gopher_full
          FROM ($duckGopherRulesSql) a
          JOIN ($duckGopherRepSql) b USING (doc_id)
          ORDER BY a.doc_id""",

    "td_unigram_em" ->
      s"""WITH $duckUnigramCtes,
          ec AS (SELECT s.piece, s.p,
                        CAST(s.wcount AS DOUBLE) * d.alpha[s.j + 1] * s.p *
                          d.beta[s.i + 1] / d.alpha[d.L + 1] AS ec
                 FROM svo s JOIN dp d USING (word)),
          ag AS (SELECT piece, p, round(sum(ec), 6) AS expected_count
                 FROM ec GROUP BY piece, p)
          SELECT piece, round(p, 6) AS seed_prob, expected_count,
                 round(expected_count /
                   (SELECT round(sum(expected_count), 6) FROM ag), 6) AS new_prob
          FROM ag ORDER BY piece""",

    "td_lsh_clusters" ->
      s"""WITH RECURSIVE $duckLshCandCtes,
          nd AS (SELECT doc_id_a, doc_id_b FROM lshcand WHERE jaccard >= 0.5),
          edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                    UNION SELECT doc_id_b, doc_id_a FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node)
          SELECT node AS doc_id, min(label) AS canonical_id
          FROM cc GROUP BY node ORDER BY doc_id""",

    // soft-dedup weights: lsh-cluster chain + sizes, every doc kept with
    // weight 1/|cluster| (singletons 1)
    "td_softdedup" ->
      s"""WITH RECURSIVE $duckLshCandCtes,
          nd AS (SELECT doc_id_a, doc_id_b FROM lshcand WHERE jaccard >= 0.5),
          edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                    UNION SELECT doc_id_b, doc_id_a FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, c.label FROM cc c JOIN edges e ON e.src = c.node),
          canon AS (SELECT node AS doc_id, min(label) AS canonical_id
                    FROM cc GROUP BY node),
          sz AS (SELECT canonical_id, count(*) AS csize
                 FROM canon GROUP BY canonical_id)
          SELECT d.doc_id, coalesce(sz.csize, 1) AS cluster_size,
                 round(CAST(1 AS DOUBLE) / coalesce(sz.csize, 1), 6) AS weight,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                 round(CAST(len(string_split(d.text, ' ')) AS DOUBLE)
                       / coalesce(sz.csize, 1), 6) AS eff_tokens
          FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
                           LEFT JOIN sz ON sz.canonical_id = c.canonical_id
          ORDER BY d.doc_id""",

    "emb_near_dup" ->
      s"""WITH e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS emb
                     FROM embeddings)
          SELECT a.cell, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                 round(${dCos("a.emb", "b.emb")}, 6) AS cosine
          FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(${dCos("a.emb", "b.emb")}, 6) >= 0.4
          ORDER BY vec_id_a, vec_id_b""",

    "emb_dedup_clusters" ->
      s"""WITH RECURSIVE
          e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings),
          nd AS (SELECT a.vec_id AS va, b.vec_id AS vb
                 FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
                 WHERE round(${dCos("a.emb", "b.emb")}, 6) >= 0.4),
          edges AS (SELECT va AS src, vb AS dst FROM nd
                    UNION SELECT vb, va FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e2.dst AS node, c.label FROM cc c JOIN edges e2 ON e2.src = c.node)
          SELECT node AS vec_id, min(label) AS canonical_id
          FROM cc GROUP BY node ORDER BY vec_id""",

    // one-pass SemDeDup over DERIVED k-means cells (seed = vec_id mod k,
    // one Lloyd assignment, centroids recomputed from the assignment):
    // rank by rounded centroid-cosine asc, dup = any earlier-ranked
    // cell-mate with rounded pair-cosine >= threshold. Constants are the
    // shared SemDedupCells / SemDedupThreshold — the Spark side reads the
    // same values, so the two can't drift
    "emb_semdedup" -> duckSemDedupSql,

    // identical oracle by design: the collapse is an exact rewrite
    "emb_semdedup_collapsed" -> duckSemDedupSql,

    // the composed vector curation pipeline's audit — the member
    // oracles assembled into ONE CTE chain (the td_curation_audit
    // pattern): exact dedup (min-id per identical embedding), the
    // emb_semdedup chain over the DEDUPED corpus, the
    // emb_decontaminate threshold vs the vec_id<5 eval set, and the
    // td_split bucket formula keyed on vec_id
    "emb_curation_audit" ->
      s"""WITH eb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                       FROM embeddings WHERE vec_id >= 5),
          ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS eemb
                 FROM embeddings WHERE vec_id < 5),
          ex AS (SELECT vec_id, emb FROM (
                   SELECT vec_id, emb,
                          min(vec_id) OVER (PARTITION BY emb) AS cvid
                   FROM eb0)
                 WHERE vec_id = cvid),
          scent AS (
            SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT vec_id % $SemDedupCells AS cell,
                       generate_subscripts(emb, 1) AS idx, unnest(emb) AS v
                FROM ex)
              GROUP BY cell, idx)
            GROUP BY cell),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT ex.vec_id, s.cell,
                     row_number() OVER (PARTITION BY ex.vec_id
                       ORDER BY ${dCos("ex.emb", "s.cemb")} DESC, s.cell ASC) AS rk
              FROM ex, scent s)
            WHERE rk = 1),
          e2 AS (SELECT a.cell, ex.vec_id, ex.emb FROM ex JOIN asg a USING (vec_id)),
          cent2 AS (
            SELECT cell, list(cv ORDER BY idx) AS cemb FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT cell, generate_subscripts(emb, 1) AS idx, unnest(emb) AS v
                FROM e2)
              GROUP BY cell, idx)
            GROUP BY cell),
          sc AS (SELECT e2.cell, e2.vec_id, e2.emb,
                        round(${dCos("e2.emb", "cent2.cemb")}, 6) AS ccos
                 FROM e2 JOIN cent2 USING (cell)),
          rk AS (SELECT *, row_number() OVER (PARTITION BY cell
                   ORDER BY ccos ASC, vec_id ASC) AS crank FROM sc),
          dup AS (SELECT DISTINCT b.vec_id
                  FROM rk a JOIN rk b ON a.cell = b.cell AND a.crank < b.crank
                  WHERE round(${dCos("a.emb", "b.emb")}, 6) >= $SemDedupThreshold),
          surv AS (SELECT r.vec_id, r.emb FROM rk r
                   LEFT JOIN dup d ON r.vec_id = d.vec_id WHERE d.vec_id IS NULL),
          cont AS (SELECT s.vec_id FROM surv s
                   WHERE EXISTS (SELECT 1 FROM ev
                     WHERE round(${dCos("ev.eemb", "s.emb")}, 6) >= $SemDecontThreshold)),
          finalv AS (SELECT vec_id FROM surv
                     WHERE vec_id NOT IN (SELECT vec_id FROM cont)),
          splits AS (SELECT CASE
                       WHEN ${dHash("concat('split:', CAST(vec_id AS VARCHAR))")} % 100 < 90 THEN 'train'
                       WHEN ${dHash("concat('split:', CAST(vec_id AS VARCHAR))")} % 100 < 95 THEN 'val'
                       ELSE 'test' END AS split
                     FROM finalv)
          SELECT stage, n_vecs FROM (
            SELECT '0_input' AS stage, (SELECT count(*) FROM eb0) AS n_vecs
            UNION ALL SELECT '1_exact_dedup', (SELECT count(*) FROM ex)
            UNION ALL SELECT '2_semdedup', (SELECT count(*) FROM surv)
            UNION ALL SELECT '3_decontaminated', (SELECT count(*) FROM finalv)
            UNION ALL SELECT concat('4_split_', split), count(*)
                      FROM splits GROUP BY split)
          ORDER BY stage""",

    "emb_decontaminate" ->
      s"""WITH $duckCosPrelude
          SELECT vec_id, cos AS max_eval_cos, query_id AS nearest_eval_id,
                 CAST(cos >= $SemDecontThreshold AS INT) AS contaminated
          FROM (
            SELECT e.vec_id, round(${dCos("q.qemb", "e.emb")}, 6) AS cos,
                   q.query_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(${dCos("q.qemb", "e.emb")}, 6) DESC,
                              q.query_id ASC) AS rk
            FROM e, q WHERE e.vec_id >= 5)
          WHERE rk = 1 ORDER BY vec_id""",

    "emb_knn_brute" ->
      s"""WITH $duckCosPrelude
          SELECT query_id, neighbor_id, round(cos, 6) AS cosine, knn_rank FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ${dCos("q.qemb", "e.emb")} AS cos,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS knn_rank
            FROM q, e WHERE e.vec_id != q.query_id)
          WHERE knn_rank <= 10 ORDER BY query_id, knn_rank""",

    "emb_mrl_rerank" ->
      s"""WITH $duckCosPrelude,
          ep AS (SELECT vec_id, emb, list_slice(emb, 1, 16) AS pemb FROM e),
          qp AS (SELECT query_id, qemb, list_slice(qemb, 1, 16) AS qpemb FROM q),
          cand AS (
            SELECT qp.query_id, ep.vec_id, ep.emb, qp.qemb,
                   row_number() OVER (PARTITION BY qp.query_id
                     ORDER BY ${dCos("qp.qpemb", "ep.pemb")} DESC,
                              ep.vec_id ASC) AS crank
            FROM ep, qp WHERE ep.vec_id != qp.query_id)
          SELECT query_id, neighbor_id, round(cos, 6) AS cosine, mrl_rank FROM (
            SELECT query_id, vec_id AS neighbor_id,
                   ${dCos("qemb", "emb")} AS cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY ${dCos("qemb", "emb")} DESC, vec_id ASC) AS mrl_rank
            FROM cand WHERE crank <= 50)
          WHERE mrl_rank <= 10 ORDER BY query_id, mrl_rank""",

    // identical semantics to emb_knn_brute — the Spark side differs only in
    // physical strategy (k-bounded native topk_by aggregate vs windowed row_number)
    "emb_knn_topk" ->
      s"""WITH $duckCosPrelude
          SELECT query_id, neighbor_id, round(cos, 6) AS cosine, knn_rank FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ${dCos("q.qemb", "e.emb")} AS cos,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS knn_rank
            FROM q, e WHERE e.vec_id != q.query_id)
          WHERE knn_rank <= 10 ORDER BY query_id, knn_rank""",

    "emb_lsh_knn" ->
      s"""WITH $duckCosPrelude,
          planes AS (
            SELECT p, list((${dHash("concat(p, ':', d)")} % 2001 - 1000) / 1000.0
                           ORDER BY d) AS pv
            FROM generate_series(0, 3) AS gp(p),
                 generate_series(0, 63) AS gd(d)
            GROUP BY p),
          buckets AS (
            SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(e.emb, pl.pv) >= 0
                                    THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
            FROM e, planes pl GROUP BY vec_id),
          eb AS (SELECT e.vec_id, e.emb, b.bucket FROM e JOIN buckets b USING (vec_id)),
          qb AS (SELECT q.query_id, q.qemb, b.bucket
                 FROM q JOIN buckets b ON b.vec_id = q.query_id),
          scored AS (
            SELECT qb.query_id, qb.bucket, eb.vec_id AS neighbor_id,
                   ${dCos("qb.qemb", "eb.emb")} AS cos
            FROM qb JOIN eb ON eb.bucket = qb.bucket AND eb.vec_id != qb.query_id)
          SELECT query_id, bucket, neighbor_id, round(cos, 6) AS cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "emb_lsh_multiprobe" ->
      s"""WITH $duckCosPrelude,
          planes AS (
            SELECT p, list((${dHash("concat(p, ':', d)")} % 2001 - 1000) / 1000.0
                           ORDER BY d) AS pv
            FROM generate_series(0, 3) AS gp(p),
                 generate_series(0, 63) AS gd(d)
            GROUP BY p),
          buckets AS (
            SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(e.emb, pl.pv) >= 0
                                    THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
            FROM e, planes pl GROUP BY vec_id),
          eb AS (SELECT e.vec_id, e.emb, b.bucket FROM e JOIN buckets b USING (vec_id)),
          qb AS (SELECT q.query_id, q.qemb, b.bucket
                 FROM q JOIN buckets b ON b.vec_id = q.query_id),
          probes AS (
            SELECT qb.query_id, qb.qemb,
                   xor(qb.bucket, CAST(m.mask AS BIGINT)) AS probe_bucket
            FROM qb, (VALUES (0), (1), (2), (4), (8)) AS m(mask)),
          scored AS (
            SELECT p.query_id, eb.vec_id AS neighbor_id,
                   ${dCos("p.qemb", "eb.emb")} AS cos
            FROM probes p JOIN eb ON eb.bucket = p.probe_bucket
                                 AND eb.vec_id != p.query_id)
          SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "emb_mmr" ->
      s"""WITH $duckCosPrelude,
          $duckMmrChain
          SELECT query_id, neighbor_id, mmr_rank, rel, score
          FROM selall$MmrK ORDER BY query_id, mmr_rank""",

    // NN-descent round over the LSH seed graph; avg_cos aggregates in
    // exact integer micro-units so the value is float-order independent
    "emb_nndescent" ->
      s"""WITH $duckCosPrelude,
          planes AS (
            SELECT p, list((${dHash("concat(p, ':', d)")} % 2001 - 1000) / 1000.0
                           ORDER BY d) AS pv
            FROM generate_series(0, 3) AS gp(p),
                 generate_series(0, 63) AS gd(d)
            GROUP BY p),
          buckets AS (
            SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(e.emb, pl.pv) >= 0
                                    THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
            FROM e, planes pl GROUP BY vec_id),
          eb AS (SELECT e.vec_id, e.emb, b.bucket FROM e JOIN buckets b USING (vec_id)),
          seed AS (
            SELECT u, w, cos FROM (
              SELECT a.vec_id AS u, b.vec_id AS w, ${dCos("a.emb", "b.emb")} AS cos,
                     row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY ${dCos("a.emb", "b.emb")} DESC, b.vec_id ASC) AS rk
              FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
            WHERE rk <= 5),
          cand AS (
            SELECT DISTINCT u, w FROM (
              SELECT u, w FROM seed
              UNION ALL
              SELECT s1.u AS u, s2.w AS w FROM seed s1 JOIN seed s2 ON s1.w = s2.u)
            WHERE u != w),
          refined AS (
            SELECT u, w, cos FROM (
              SELECT c.u, c.w, ${dCos("eu.emb", "ew.emb")} AS cos,
                     row_number() OVER (PARTITION BY c.u
                       ORDER BY ${dCos("eu.emb", "ew.emb")} DESC, c.w ASC) AS rk
              FROM cand c JOIN e eu ON eu.vec_id = c.u JOIN e ew ON ew.vec_id = c.w)
            WHERE rk <= 5),
          samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 20 = 0),
          nsamp AS (SELECT count(*) AS n_nodes FROM samp),
          brute AS (
            SELECT bq, bn FROM (
              SELECT s.vec_id AS bq, e2.vec_id AS bn,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY ${dCos("s.emb", "e2.emb")} DESC, e2.vec_id ASC) AS rk
              FROM samp s JOIN e e2 ON e2.vec_id != s.vec_id)
            WHERE rk <= 5),
          m AS (
            SELECT 'seed' AS stage,
                   sum(CASE WHEN b.bq IS NOT NULL THEN 1 ELSE 0 END) AS hits,
                   sum(CAST(round(s.cos * 1000000) AS BIGINT)) AS cos_micro,
                   count(*) AS n_edges
            FROM seed s LEFT JOIN brute b ON b.bq = s.u AND b.bn = s.w
            WHERE s.u % 20 = 0
            UNION ALL
            SELECT 'refined',
                   sum(CASE WHEN b.bq IS NOT NULL THEN 1 ELSE 0 END),
                   sum(CAST(round(r.cos * 1000000) AS BIGINT)), count(*)
            FROM refined r LEFT JOIN brute b ON b.bq = r.u AND b.bn = r.w
            WHERE r.u % 20 = 0)
          SELECT m.stage, n.n_nodes,
                 round(CAST(hits AS DOUBLE) / (n.n_nodes * 5), 6) AS recall_at_5,
                 round(CAST(cos_micro AS DOUBLE) / 1000000.0 / n_edges, 6) AS avg_cos
          FROM m, nsamp n ORDER BY stage""",

    "emb_ivf_nprobe2" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          probe AS (
            SELECT query_id, qemb, cell AS probe_cell FROM (
              SELECT q.query_id, q.qemb, c.cell,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "c.cemb")} DESC, c.cell ASC) AS pr
              FROM q, cent c) WHERE pr <= 2),
          scored AS (
            SELECT p.query_id, p.probe_cell, e.vec_id AS neighbor_id,
                   ${dCos("p.qemb", "e.emb")} AS cos
            FROM probe p JOIN e ON e.cell = p.probe_cell AND e.vec_id != p.query_id)
          SELECT query_id, probe_cell, neighbor_id, round(cos, 6) AS cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "td_filter_pipeline" ->
      s"""WITH q AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 60 AND
                             round(CAST(len(list_filter(toks,
                               t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
                               / len(toks), 6) < 0.2 THEN 'high'
                        WHEN len(toks) >= 30 THEN 'medium' ELSE 'low'
                   END AS quality_bucket
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          l AS (
            SELECT doc_id, CAST(lang = $langCase AS INT) AS lang_match
            FROM (SELECT doc_id, lang, $langScoreCols FROM documents)),
          c AS (SELECT md5(text) AS h, min(doc_id) AS canonical_doc_id
                FROM documents GROUP BY 1),
          d AS (SELECT doc_id, md5(text) AS h FROM documents)
          SELECT d.doc_id, q.quality_bucket, l.lang_match, c.canonical_doc_id,
                 CAST(d.doc_id = c.canonical_doc_id AS INT) AS is_canonical,
                 CAST(q.quality_bucket != 'low' AND l.lang_match = 1
                      AND d.doc_id = c.canonical_doc_id AS INT) AS keep
          FROM d JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN c USING (h)
          ORDER BY d.doc_id""",

    "td_funnel" ->
      s"""WITH q AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 60 AND
                             round(CAST(len(list_filter(toks,
                               t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
                               / len(toks), 6) < 0.2 THEN 'high'
                        WHEN len(toks) >= 30 THEN 'medium' ELSE 'low'
                   END AS quality_bucket
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          l AS (
            SELECT doc_id, CAST(lang = $langCase AS INT) AS lang_match
            FROM (SELECT doc_id, lang, $langScoreCols FROM documents)),
          c AS (SELECT md5(text) AS h, min(doc_id) AS canonical_doc_id
                FROM documents GROUP BY 1),
          d AS (SELECT doc_id, md5(text) AS h FROM documents),
          f AS (SELECT d.doc_id, q.quality_bucket, l.lang_match,
                       CAST(d.doc_id = c.canonical_doc_id AS INT) AS is_canonical
                FROM d JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN c USING (h))
          SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs FROM f
          UNION ALL
          SELECT 1, 'lang', CAST(sum(lang_match) AS BIGINT) FROM f
          UNION ALL
          SELECT 2, 'quality', CAST(sum(CASE WHEN lang_match = 1
            AND quality_bucket != 'low' THEN 1 ELSE 0 END) AS BIGINT) FROM f
          UNION ALL
          SELECT 3, 'dedup', CAST(sum(CASE WHEN lang_match = 1
            AND quality_bucket != 'low' AND is_canonical = 1
            THEN 1 ELSE 0 END) AS BIGINT) FROM f
          ORDER BY stage_idx""",

    "emb_ivfpq_knn" ->
      s"""WITH $duckCosPrelude, $duckCentroids, $duckPqSub, $duckPqCodes,
          probe AS (
            SELECT query_id, cell AS probe_cell FROM (
              SELECT q.query_id, c2.cell,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "c2.cemb")} DESC, c2.cell ASC) AS pr
              FROM q, cent c2) WHERE pr <= 2),
          lut AS (
            SELECT q.query_id, s.cell,
                   ${(0 until PqM).map(j => dDist2(
                     s"q.qemb[${j * PqDsub + 1}:${(j + 1) * PqDsub}]",
                     s"s.s_$j") + s" AS d_$j").mkString(", ")}
            FROM q, sub s),
          scored AS (
            SELECT l0.query_id, c.vec_id AS neighbor_id,
                   ((l0.d_0 + l1.d_1) + l2.d_2) + l3.d_3 AS est
            FROM codes c
            JOIN e ev ON ev.vec_id = c.vec_id
            JOIN lut l0 ON l0.cell = c.code_0
            JOIN probe p ON p.query_id = l0.query_id AND p.probe_cell = ev.cell
            JOIN lut l1 ON l1.query_id = l0.query_id AND l1.cell = c.code_1
            JOIN lut l2 ON l2.query_id = l0.query_id AND l2.cell = c.code_2
            JOIN lut l3 ON l3.query_id = l0.query_id AND l3.cell = c.code_3
            WHERE c.vec_id != l0.query_id)
          SELECT query_id, neighbor_id, round(est, 6) AS est_dist,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY est ASC, neighbor_id ASC) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "emb_ivf_knn" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          probe AS (
            SELECT query_id, qemb, cell AS probe_cell FROM (
              SELECT q.query_id, q.qemb, c.cell,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "c.cemb")} DESC, c.cell ASC) AS pr
              FROM q, cent c) WHERE pr = 1),
          scored AS (
            SELECT p.query_id, p.probe_cell, e.vec_id AS neighbor_id,
                   ${dCos("p.qemb", "e.emb")} AS cos
            FROM probe p JOIN e ON e.cell = p.probe_cell AND e.vec_id != p.query_id)
          SELECT query_id, probe_cell, neighbor_id, round(cos, 6) AS cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS knn_rank
          FROM scored QUALIFY knn_rank <= 5 ORDER BY query_id, knn_rank""",

    "emb_filtered_knn" ->
      s"""WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings JOIN documents ON vec_id = doc_id
            WHERE length(text) >= 200),
          q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5)
          SELECT query_id, neighbor_id, round(cos, 6) AS cosine, knn_rank FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ${dCos("q.qemb", "e.emb")} AS cos,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS knn_rank
            FROM q, e WHERE e.vec_id != q.query_id)
          WHERE knn_rank <= 10 ORDER BY query_id, knn_rank""",

    "emb_mrl_recall" ->
      s"""WITH $duckCosPrelude,
          ep AS (SELECT vec_id, emb, list_slice(emb, 1, 16) AS pemb FROM e),
          qp AS (SELECT query_id, qemb, list_slice(qemb, 1, 16) AS qpemb FROM q),
          cand AS (
            SELECT qp.query_id, ep.vec_id, ep.emb, qp.qemb,
                   row_number() OVER (PARTITION BY qp.query_id
                     ORDER BY ${dCos("qp.qpemb", "ep.pemb")} DESC,
                              ep.vec_id ASC) AS crank
            FROM ep, qp WHERE ep.vec_id != qp.query_id),
          mrl AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY ${dCos("qemb", "emb")} DESC, vec_id ASC) AS rk
              FROM cand WHERE crank <= 20) WHERE rk <= 5),
          brute AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
              FROM q, e WHERE e.vec_id != q.query_id) WHERE rk <= 5)
          SELECT b.query_id,
                 round(CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*), 6) AS recall_at_5
          FROM brute b LEFT JOIN mrl m
            ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
          GROUP BY b.query_id ORDER BY b.query_id""",

    "emb_recall_curve" -> {
      val blocks = RecallNprobes.map { np =>
        s"""probe$np AS (
            SELECT query_id, qemb, cell AS probe_cell FROM (
              SELECT q.query_id, q.qemb, c.cell,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "c.cemb")} DESC, c.cell ASC) AS pr
              FROM q, cent c) WHERE pr <= $np),
          ivf$np AS (
            SELECT query_id, neighbor_id FROM (
              SELECT p.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY p.query_id
                       ORDER BY ${dCos("p.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
              FROM probe$np p JOIN e ON e.cell = p.probe_cell
                                    AND e.vec_id != p.query_id) WHERE rk <= 5)"""
      }.mkString(",\n")
      val rows = RecallNprobes.map { np =>
        s"""SELECT $np AS nprobe,
                   round(CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS mean_recall_at_5
            FROM brute b LEFT JOIN ivf$np i
              ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id"""
      }.mkString("\n UNION ALL ")
      s"""WITH $duckCosPrelude, $duckCentroids,
          brute AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
              FROM q, e WHERE e.vec_id != q.query_id) WHERE rk <= 5),
          $blocks
          SELECT * FROM ($rows) ORDER BY nprobe"""
    },

    "emb_ann_recall" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          brute AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
              FROM q, e WHERE e.vec_id != q.query_id) WHERE rk <= 5),
          probe AS (
            SELECT query_id, qemb, cell AS probe_cell FROM (
              SELECT q.query_id, q.qemb, c.cell,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY ${dCos("q.qemb", "c.cemb")} DESC, c.cell ASC) AS pr
              FROM q, cent c) WHERE pr <= 2),
          ivf AS (
            SELECT query_id, neighbor_id FROM (
              SELECT p.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY p.query_id
                       ORDER BY ${dCos("p.qemb", "e.emb")} DESC, e.vec_id ASC) AS rk
              FROM probe p JOIN e ON e.cell = p.probe_cell
                                 AND e.vec_id != p.query_id) WHERE rk <= 5)
          SELECT b.query_id,
                 round(CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*), 6) AS recall_at_5
          FROM brute b LEFT JOIN ivf i
            ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
          GROUP BY b.query_id ORDER BY b.query_id""",

    "emb_silhouette" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          scored AS (
            SELECT e.vec_id, e.cell AS own, c.cell,
                   ${dCos("e.emb", "c.cemb")} AS acos
            FROM e, cent c),
          ab AS (
            SELECT vec_id, own,
                   max(CASE WHEN cell = own THEN acos END) AS a,
                   max(CASE WHEN cell != own THEN acos END) AS b
            FROM scored GROUP BY vec_id, own)
          SELECT own AS cell, count(*) AS n_vectors,
                 round(avg(a - b), 6) AS avg_silhouette
          FROM ab GROUP BY own ORDER BY cell""",

    "td_lang_confusion" ->
      s"""SELECT lang, $langCase AS predicted_lang, count(*) AS n_docs
          FROM (SELECT doc_id, lang, $langScoreCols FROM documents)
          GROUP BY 1, 2 ORDER BY lang, predicted_lang""",

    "td_split_coverage" -> {
      val split =
        s"""CASE WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 90
                 THEN 'train'
                 WHEN ${dHash("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 95
                 THEN 'val' ELSE 'test' END"""
      s"""WITH terms AS (
            SELECT doc_id, $split AS split,
                   unnest(list_distinct(string_split(text, ' '))) AS term
            FROM documents),
          tv AS (SELECT DISTINCT term FROM terms WHERE split = 'train')
          SELECT t.split, count(DISTINCT t.term) AS n_terms,
                 count(DISTINCT CASE WHEN tv.term IS NOT NULL THEN t.term END)
                   AS n_covered,
                 round(CAST(count(DISTINCT CASE WHEN tv.term IS NOT NULL
                            THEN t.term END) AS DOUBLE)
                       / count(DISTINCT t.term), 6) AS coverage
          FROM terms t LEFT JOIN tv USING (term)
          WHERE t.split != 'train'
          GROUP BY t.split ORDER BY t.split"""
    },

    "emb_kmeans_train" ->
      s"""WITH ${duckKmeansChain(KmeansCells, KmeansIters)}
          SELECT vec_id, cell FROM a$KmeansIters ORDER BY vec_id""",

    "emb_kmeans_quality" -> {
      val rows = (1 to KmeansIters).map { r =>
        s"""SELECT $r AS round,
                   round(avg(${dCos("eb.emb", "c.cemb")}), 6) AS mean_ccos,
                   CAST(sum(CASE WHEN a.cell != p.cell THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_moved
            FROM eb JOIN a$r a USING (vec_id)
                    JOIN a${r - 1} p USING (vec_id)
                    JOIN c$r c ON c.cell = a.cell"""
      }.mkString("\n UNION ALL ")
      s"""WITH ${duckKmeansChain(KmeansCells, KmeansIters)}
          SELECT * FROM ($rows) ORDER BY round"""
    },

    "emb_kmeans_step" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          scored AS (
            SELECT e.vec_id, e.cell AS old_cell, c.cell AS new_cell,
                   ${dCos("e.emb", "c.cemb")} AS acos
            FROM e, cent c)
          SELECT vec_id, old_cell, new_cell,
                 CAST(old_cell != new_cell AS INT) AS moved
          FROM (SELECT vec_id, old_cell, new_cell,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY acos DESC, new_cell ASC) AS rk
                FROM scored)
          WHERE rk = 1 ORDER BY vec_id""",

    "emb_cluster_stats" ->
      s"""WITH $duckCosPrelude, $duckCentroids,
          per AS (SELECT cell, sqrt(list_dot_product(emb, emb)) AS vnorm FROM e),
          st AS (SELECT cell, count(*) AS n_vectors, round(avg(vnorm), 6) AS avg_norm
                 FROM per GROUP BY cell)
          SELECT st.cell, st.n_vectors, st.avg_norm,
                 round(sqrt(list_dot_product(cent.cemb, cent.cemb)), 6) AS centroid_norm
          FROM st JOIN cent USING (cell) ORDER BY cell""",

    // re-derived over the r7 REAL containers: container length and
    // header bytes from the encode conventions (validates wav_encode /
    // bmp_encode's container math), decoded unit count and Σ|unit| from
    // first principles (validates the parsers' chunk walk / row un-flip
    // / de-padding) — no container is ever parsed on the oracle side
    "mm_decode_features" ->
      s"""WITH src AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) AS L,
                   octet_length(encode(text)) % 24 + 8 AS W,
                   greatest(1, (octet_length(encode(text)) + 2) // 3) AS npx
            FROM documents),
          geo AS (
            SELECT doc_id, h, L, W, npx,
                   (npx + W - 1) // W AS ht,
                   ((W * 3 + 3) // 4) * 4 AS rs
            FROM src)
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END AS format,
                 CAST(CASE WHEN doc_id % 2 = 0 THEN 44 + 2 * L
                      ELSE 54 + rs * ht END AS INT) AS content_len,
                 CASE WHEN doc_id % 2 = 0
                   THEN concat('52494646', ${duckLe32Hex("36 + 2 * L")})
                   ELSE concat('424D', ${duckLe32Hex("54 + rs * ht")}, '0000')
                 END AS header_hex,
                 CAST(CASE WHEN doc_id % 2 = 0 THEN L ELSE W * ht END AS INT)
                   AS n_units,
                 CAST(CASE WHEN doc_id % 2 = 0
                   THEN coalesce(256 * list_sum(list_transform(
                     generate_series(1, L),
                     i -> abs(CAST(concat('0x', substr(h, i * 2 - 1, 2))
                                   AS BIGINT) - 128))), 0)
                   ELSE coalesce(list_sum(list_transform(
                     generate_series(0, npx - 1),
                     j -> (2126 * ${duckByteAt("3 * j + 2")}
                           + 7152 * ${duckByteAt("3 * j + 1")}
                           + 722 * ${duckByteAt("3 * j")}) // 10000)), 0)
                 END AS BIGINT) AS unit_sum,
                 CAST(CASE WHEN doc_id % 2 = 0 THEN L ELSE W * ht END > 0
                   AS INT) AS header_valid
          FROM geo ORDER BY doc_id""",

    "mm_phash" ->
      s"""WITH $duckPhash
          SELECT doc_id, phash FROM p ORDER BY doc_id""",

    // true-luma aHash: block sums over the first-principles luma plane
    // (duckLumaCte), the same integer mean-compare bit rule
    "mm_luma_phash" ->
      s"""WITH $duckLumaCte, $duckLumaPhash
          SELECT doc_id, phash FROM lp ORDER BY doc_id""",

    "mm_luma_neardup" ->
      s"""WITH $duckLumaCte, $duckLumaPhash
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
                 CAST(list_sum(list_transform(generate_series(0, 3), j ->
                   CASE WHEN (a.phash >> (j*8)) & 255 = (b.phash >> (j*8)) & 255
                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_shared_bands
          FROM lp a JOIN lp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3
          ORDER BY doc_id_a, doc_id_b""",

    // PNG tier (r8): first-principles luma re-derivation — no inflate,
    // no container parse — so hash equality proves the deflate + filter
    // cycle + CRC'd chunk walk + unfilter matrix compose to identity
    "mm_png_luma" ->
      s"""WITH $duckPngLumaCte
          SELECT doc_id, CAST(n_luma AS INT) AS n_px,
                 CAST(coalesce(list_sum(luma), 0) AS BIGINT) AS luma_sum,
                 CAST(n_luma > 0 AS INT) AS header_valid
          FROM lm ORDER BY doc_id""",

    "mm_png_phash" ->
      s"""WITH $duckPngLumaCte, $duckLumaPhash
          SELECT doc_id, phash FROM lp ORDER BY doc_id""",

    "mm_png_neardup" ->
      s"""WITH $duckPngLumaCte, $duckLumaPhash
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
                 CAST(list_sum(list_transform(generate_series(0, 3), j ->
                   CASE WHEN (a.phash >> (j*8)) & 255 = (b.phash >> (j*8)) & 255
                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_shared_bands
          FROM lp a JOIN lp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3
          ORDER BY doc_id_a, doc_id_b""",

    "mm_phash_neardup" ->
      s"""WITH $duckPhash
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
                 CAST(list_sum(list_transform(generate_series(0, 3), j ->
                   CASE WHEN (a.phash >> (j*8)) & 255 = (b.phash >> (j*8)) & 255
                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_shared_bands
          FROM p a JOIN p b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3
          ORDER BY doc_id_a, doc_id_b""",

    // frame-fingerprint derivation mirrors the green mm_frame_sample
    // oracle; both engines filter on the ROUNDED jaccard so the threshold
    // compare can't split on a 1-ulp ratio difference
    "mm_video_neardup" ->
      """WITH fr AS (
           SELECT DISTINCT doc_id,
                  md5(substr(text, frame_idx * 32 + 1, 32)) AS frame_md5
           FROM (SELECT doc_id, text,
                        unnest(generate_series(0, CAST(n_chars % 7 AS INT)))
                          AS frame_idx
                 FROM documents)),
         sz AS (SELECT doc_id, count(*) AS nf FROM fr GROUP BY doc_id),
         sh AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                       count(*) AS n_shared
                FROM fr a JOIN fr b ON a.frame_md5 = b.frame_md5
                                   AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_id_a, doc_id_b, n_shared, sa.nf AS n_a, sb.nf AS n_b,
                round(CAST(n_shared AS DOUBLE) / (sa.nf + sb.nf - n_shared), 6)
                  AS jaccard
         FROM sh JOIN sz sa ON sa.doc_id = doc_id_a
                 JOIN sz sb ON sb.doc_id = doc_id_b
         WHERE round(CAST(n_shared AS DOUBLE) / (sa.nf + sb.nf - n_shared), 6)
               >= 0.5
         ORDER BY doc_id_a, doc_id_b""",

    "mm_audio_energy" ->
      s"""WITH en AS ($duckAudioEnergy)
          SELECT doc_id, win_idx, energy FROM en ORDER BY doc_id, win_idx""",

    // VAD segments: integer above-mean gate + gaps-and-islands merge over
    // the same windowed-energy stream the mm_audio_energy oracle defines
    "mm_vad_segments" ->
      s"""WITH en AS ($duckAudioEnergy),
          tot AS (SELECT doc_id, sum(energy) AS tot, count(*) AS nw
                  FROM en GROUP BY doc_id),
          act AS (SELECT e.doc_id, e.win_idx, e.energy
                  FROM en e JOIN tot t USING (doc_id)
                  WHERE e.energy * t.nw > t.tot),
          seg AS (SELECT doc_id, win_idx, energy,
                         win_idx - CAST(row_number() OVER (PARTITION BY doc_id
                           ORDER BY win_idx) AS INT) AS grp
                  FROM act)
          SELECT doc_id, min(win_idx) AS seg_start, max(win_idx) AS seg_end,
                 CAST(count(*) AS BIGINT) AS n_windows,
                 CAST(sum(energy) AS BIGINT) AS seg_energy
          FROM seg GROUP BY doc_id, grp ORDER BY doc_id, seg_start""",
    "mm_resize" ->
      """SELECT doc_id,
                CAST(((n_chars % 64) * 10 + 64) // 2 AS INT) AS new_width,
                CAST(((n_chars % 48) * 10 + 48) // 2 AS INT) AS new_height,
                CAST(length(text) // 2 AS INT) AS resized_len,
                md5(substr(text, 1, CAST(length(text) // 2 AS INT))) AS resized_md5
         FROM documents ORDER BY doc_id""",

    "mm_frame_sample" ->
      """SELECT doc_id, frame_idx,
                frame_idx * 32 + 1 AS frame_offset,
                md5(substr(text, frame_idx * 32 + 1, 32)) AS frame_md5
         FROM (SELECT doc_id, text,
                      unnest(generate_series(0, CAST(n_chars % 7 AS INT))) AS frame_idx
               FROM documents)
         ORDER BY doc_id, frame_idx""",

    "td_bpe_compression" ->
      s"""WITH ${duckBpeChain(BpeMerges)},
          enc AS (
            SELECT replace(replace(s, chr(1), ''), chr(2), '') AS word,
                   len(string_split(substring(s, 2, length(s) - 2), chr(2)||chr(1))) AS np
            FROM w$BpeMerges),
          toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          per_doc AS (SELECT doc_id, sum(np) AS n_pieces
                      FROM toks JOIN enc USING (word) GROUP BY doc_id)
          SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
                 round(sum(n_chars) / CAST(sum(n_pieces) AS DOUBLE), 6) AS chars_per_piece
          FROM documents JOIN per_doc USING (doc_id)
          GROUP BY source ORDER BY source""",

    "td_ngram_diversity" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
          inst AS (SELECT source, sum(greatest(len(toks) - ${NgramK - 1}, 0)) AS n_instances
                   FROM t GROUP BY source),
          tri AS (SELECT source, count(DISTINCT sh) AS n_distinct FROM (
                    SELECT source, array_to_string(toks[i:i+${NgramK - 1}], ' ') AS sh
                    FROM (SELECT source, toks,
                                 unnest(generate_series(1, len(toks) - ${NgramK - 1})) AS i
                          FROM t))
                  GROUP BY source)
          SELECT i.source, CAST(i.n_instances AS BIGINT) AS n_instances,
                 CAST(coalesce(tr.n_distinct, 0) AS BIGINT) AS n_distinct,
                 CASE WHEN i.n_instances > 0
                      THEN round(coalesce(tr.n_distinct, 0) /
                                 CAST(i.n_instances AS DOUBLE), 6) END AS diversity
          FROM inst i LEFT JOIN tri tr USING (source) ORDER BY source""",

    "td_quality_sweep" ->
      s"""WITH t AS (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS total,
                         CAST(sum(n_tokens) AS DOUBLE) AS total_tokens FROM t),
          th AS (SELECT unnest([${SweepThresholds.mkString(", ")}]) AS min_tokens)
          SELECT CAST(min_tokens AS INT) AS min_tokens,
                 CAST(sum(CASE WHEN n_tokens >= min_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 round(sum(CASE WHEN n_tokens >= min_tokens THEN 1 ELSE 0 END) /
                       max(tot.total), 6) AS keep_rate,
                 CAST(sum(CASE WHEN n_tokens >= min_tokens THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
                 round(sum(CASE WHEN n_tokens >= min_tokens THEN n_tokens ELSE 0 END) /
                       max(tot.total_tokens), 6) AS token_keep_rate
          FROM t CROSS JOIN th CROSS JOIN tot
          GROUP BY min_tokens ORDER BY min_tokens""",

    "td_doc_embed" ->
      s"""WITH $duckHashedSparse
          SELECT doc_id, source, dim, val FROM sp ORDER BY doc_id, dim""",

    "td_doc_embed_knn" ->
      s"""WITH $duckHashedSparse,
          dims AS (SELECT unnest(generate_series(0, ${HashDims - 1})) AS dim),
          ids AS (SELECT DISTINCT doc_id FROM sp),
          dn AS (SELECT i.doc_id, list(coalesce(s.val, 0.0) ORDER BY d.dim) AS vec
                 FROM ids i CROSS JOIN dims d
                 LEFT JOIN sp s ON s.doc_id = i.doc_id AND s.dim = d.dim
                 GROUP BY i.doc_id),
          bdw AS (SELECT GREATEST(${2 * HashDims},
                                  CAST(ceil(count(*) / 64.0) AS BIGINT)) AS bd
                  FROM documents),
          blk AS (SELECT doc_id, CAST(bdim AS INT) AS block FROM (
                    SELECT doc_id, bdim,
                           row_number() OVER (PARTITION BY doc_id
                             ORDER BY w DESC, bdim ASC) AS rk
                    FROM (SELECT doc_id,
                                 ${dHash("concat('dim:', term)")}
                                   % (SELECT bd FROM bdw) AS bdim,
                                 count(*) AS w
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS term
                                FROM documents)
                          GROUP BY doc_id, bdim))
                  WHERE rk = 1),
          vb AS (SELECT dn.doc_id, b.block, dn.vec FROM dn JOIN blk b USING (doc_id)),
          pr AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                        round(list_dot_product(a.vec, b.vec), 6) AS cosine
                 FROM vb a JOIN vb b ON a.block = b.block AND a.doc_id <> b.doc_id),
          rnk AS (SELECT doc_id_a, doc_id_b, cosine,
                         row_number() OVER (PARTITION BY doc_id_a
                           ORDER BY cosine DESC, doc_id_b ASC) AS rk
                  FROM pr)
          SELECT doc_id_a, doc_id_b, cosine, CAST(rk AS INT) AS rk
          FROM rnk WHERE rk <= $HashKnnK ORDER BY doc_id_a, rk""",

    "emb_sim_histogram" ->
      s"""WITH e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS emb
                     FROM embeddings),
          pr AS (SELECT floor(round(${dCos("a.emb", "b.emb")}, 6) * 10) AS bin
                 FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id),
          bn AS (SELECT CAST(bin AS INT) AS bin, count(*) AS n_pairs FROM pr GROUP BY bin),
          tot AS (SELECT CAST(sum(n_pairs) AS DOUBLE) AS total FROM bn)
          SELECT bin, round(bin / 10.0, 1) AS bin_lo, CAST(n_pairs AS BIGINT) AS n_pairs,
                 round(n_pairs / total, 6) AS frac
          FROM bn CROSS JOIN tot ORDER BY bin""",

    "td_stratified_sample" ->
      s"""WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   ln((CAST(${dHash("concat('ws:', CAST(doc_id AS VARCHAR))")}
                        % 1000000000 AS DOUBLE) + 0.5e0) / 1e9)
                     / CAST(n_chars AS DOUBLE) AS es_key
            FROM documents),
          rk AS (SELECT source, doc_id, n_chars,
                        CAST(row_number() OVER (PARTITION BY source
                          ORDER BY es_key DESC, doc_id) AS INT) AS sample_rank
                 FROM keyed)
          SELECT source, sample_rank, doc_id, n_chars
          FROM rk WHERE sample_rank <= $StratSampleK
          ORDER BY source, sample_rank""",

    "td_quantile_sketch" -> {
      val qList = QsQuantiles.map(q => s"${q}e0").mkString("[", ", ", "]")
      val estCases = QsQuantiles.map(q =>
        s"max(CASE WHEN q = ${q}e0 THEN est END) AS est_p${(q * 100).toInt}")
        .mkString(", ")
      s"""WITH hist AS (
            SELECT source AS grp,
                   floor(CAST(n_chars AS DOUBLE) / $QsWidth) AS bucket,
                   count(*) AS cnt
            FROM documents GROUP BY 1, 2),
          cumr AS (
            SELECT grp, bucket, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) - cnt
                     AS cum_prev
            FROM hist),
          tot AS (SELECT grp, sum(cnt) AS n FROM hist GROUP BY 1),
          tgt AS (SELECT grp, n, unnest($qList) AS q FROM tot),
          sel AS (
            SELECT grp, q, n, bucket, cum_prev, cnt FROM (
              SELECT t.grp, t.q, t.n, c.bucket, c.cum_prev, c.cnt,
                     row_number() OVER (PARTITION BY t.grp, t.q
                       ORDER BY c.bucket) AS rk
              FROM tgt t JOIN cumr c USING (grp)
              WHERE c.cum >= t.q * t.n) WHERE rk = 1),
          est AS (
            SELECT grp, q, n,
                   round(bucket * $QsWidth +
                         $QsWidth * (q * n - cum_prev) / cnt, 6) AS est
            FROM sel),
          pv AS (SELECT grp, CAST(any_value(n) AS BIGINT) AS n_rows, $estCases
                 FROM est GROUP BY grp),
          ex AS (SELECT source AS grp,
                        round(quantile_cont(n_chars, 0.5), 6) AS exact_p50,
                        round(quantile_cont(n_chars, 0.9), 6) AS exact_p90,
                        round(quantile_cont(n_chars, 0.99), 6) AS exact_p99
                 FROM documents GROUP BY 1)
          SELECT pv.grp AS source, pv.n_rows,
                 pv.est_p50, pv.est_p90, pv.est_p99,
                 ex.exact_p50, ex.exact_p90, ex.exact_p99
          FROM pv JOIN ex USING (grp) ORDER BY source"""
    },

    // native-aggregate histogram quantile: same fixed-grid replay as
    // td_quantile_sketch (bucket = n_chars // width exactly — n_chars is
    // non-negative, so floor(double/width) ≡ floorDiv)
    "td_hist_quantile_agg" -> {
      val qList = QsQuantiles.map(q => s"${q}e0").mkString("[", ", ", "]")
      val estCases = QsQuantiles.map(q =>
        s"max(CASE WHEN q = ${q}e0 THEN est END) AS est_p${(q * 100).toInt}")
        .mkString(", ")
      s"""WITH hist AS (
            SELECT source AS grp,
                   floor(CAST(n_chars AS DOUBLE) / $QsWidth) AS bucket,
                   count(*) AS cnt
            FROM documents GROUP BY 1, 2),
          cumr AS (
            SELECT grp, bucket, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) - cnt
                     AS cum_prev
            FROM hist),
          tot AS (SELECT grp, sum(cnt) AS n FROM hist GROUP BY 1),
          tgt AS (SELECT grp, n, unnest($qList) AS q FROM tot),
          sel AS (
            SELECT grp, q, n, bucket, cum_prev, cnt FROM (
              SELECT t.grp, t.q, t.n, c.bucket, c.cum_prev, c.cnt,
                     row_number() OVER (PARTITION BY t.grp, t.q
                       ORDER BY c.bucket) AS rk
              FROM tgt t JOIN cumr c USING (grp)
              WHERE c.cum >= t.q * t.n) WHERE rk = 1),
          est AS (
            SELECT grp, q, n,
                   round(bucket * $QsWidth +
                         $QsWidth * (q * n - cum_prev) / cnt, 6) AS est
            FROM sel)
          SELECT grp AS source, CAST(any_value(n) AS BIGINT) AS n_rows,
                 $estCases
          FROM est GROUP BY grp ORDER BY source"""
    },

    "td_distinct_sketch" -> {
      val mBlocks = LcMs.map { m =>
        s"""SELECT $m AS m,
                   ${dHash("concat('lc:', shingle)")} % $m AS bucket
            FROM sh"""
      }.mkString("\n UNION ALL ")
      s"""WITH $duckShingles,
          cells AS (SELECT DISTINCT m, bucket FROM ($mBlocks)),
          occ AS (SELECT m, count(*) AS occupied FROM cells GROUP BY 1),
          ex AS (SELECT count(DISTINCT shingle) AS exact_distinct FROM sh)
          SELECT m, exact_distinct, occupied,
                 round(-CAST(m AS DOUBLE) *
                       ln((CAST(m AS DOUBLE) - occupied) / CAST(m AS DOUBLE)), 6)
                   AS lc_estimate,
                 round(abs(round(-CAST(m AS DOUBLE) *
                       ln((CAST(m AS DOUBLE) - occupied) / CAST(m AS DOUBLE)), 6)
                       - exact_distinct) / exact_distinct, 6) AS rel_err
          FROM occ CROSS JOIN ex ORDER BY m"""
    },

    "td_prefix_join" ->
      s"""WITH $duckShingles,
          tok AS (SELECT DISTINCT doc_id,
                         ${dHash("shingle")} AS tok FROM sh),
          freq AS (SELECT tok, count(*) AS tf FROM tok GROUP BY 1),
          sized AS (
            SELECT t.doc_id, t.tok, f.tf,
                   count(*) OVER (PARTITION BY t.doc_id) AS set_size,
                   row_number() OVER (PARTITION BY t.doc_id
                     ORDER BY f.tf ASC, t.tok ASC) AS rk
            FROM tok t JOIN freq f USING (tok)),
          pfx AS (SELECT * FROM sized
                  WHERE rk <= set_size - ceil($PrefixJoinT * set_size) + 1),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
            FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
            WHERE least(a.set_size, b.set_size) >=
                  $PrefixJoinT * greatest(a.set_size, b.set_size)),
          sets AS (SELECT doc_id, list(DISTINCT ${dHash("shingle")}) AS dtoks
                   FROM sh GROUP BY doc_id)
          SELECT doc_id_a, doc_id_b, jaccard FROM (
            SELECT c.doc_id_a, c.doc_id_b,
                   round(CAST(len(list_intersect(sa.dtoks, sb.dtoks)) AS DOUBLE)
                         / (len(sa.dtoks) + len(sb.dtoks)
                            - len(list_intersect(sa.dtoks, sb.dtoks))), 6)
                     AS jaccard
            FROM cand c
            JOIN sets sa ON sa.doc_id = c.doc_id_a
            JOIN sets sb ON sb.doc_id = c.doc_id_b)
          WHERE jaccard >= $PrefixJoinT
          ORDER BY doc_id_a, doc_id_b""",

    "td_weighted_sample" ->
      s"""WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   ln((CAST(${dHash("concat('ws:', CAST(doc_id AS VARCHAR))")}
                        % 1000000000 AS DOUBLE) + 0.5e0) / 1e9)
                     / CAST(n_chars AS DOUBLE) AS es_key
            FROM documents),
          top AS (SELECT * FROM keyed ORDER BY es_key DESC, doc_id LIMIT $WsK)
          SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INT)
                   AS sample_rank,
                 doc_id, source, n_chars
          FROM top ORDER BY sample_rank""",

    "td_cms_heavy" -> {
      val hashRows = (0 until CmsDepth).map { i =>
        s"""SELECT $i AS srow,
                   ${dHash(s"concat('cms$i:', term)")} % $CmsWidth AS ccol,
                   term
            FROM toks"""
      }.mkString("\n UNION ALL ")
      s"""WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents),
          hashed AS ($hashRows),
          cells AS (SELECT srow, ccol, count(*) AS cell_count
                    FROM hashed GROUP BY 1, 2),
          tc AS (SELECT term, count(*) AS exact FROM toks GROUP BY 1),
          top AS (SELECT term, exact FROM tc
                  ORDER BY exact DESC, term LIMIT $CmsTopK),
          probes AS (SELECT DISTINCT t.term, t.exact, h.srow, h.ccol
                     FROM top t JOIN hashed h USING (term))
          SELECT p.term, p.exact, min(c.cell_count) AS cms_estimate,
                 min(c.cell_count) - p.exact AS overcount
          FROM probes p JOIN cells c USING (srow, ccol)
          GROUP BY 1, 2 ORDER BY p.exact DESC, p.term"""
    },

    "td_kmv_distinct" ->
      s"""WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term
                         FROM documents),
          dt AS (SELECT DISTINCT source, term FROM terms),
          hashed AS (SELECT source,
                       ${dHash("concat('kmv:', term)")} AS h FROM dt),
          kth AS (SELECT source, max(h) AS h_k, count(*) AS n_kept FROM (
              SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h ASC) AS rk FROM hashed)
            WHERE rk <= $KmvK GROUP BY source),
          ex AS (SELECT source, count(*) AS exact_distinct
                 FROM dt GROUP BY source),
          est AS (SELECT k.source, k.n_kept,
                    round(CAST(h_k AS DOUBLE) / $KmvRange, 9) AS u_k,
                    round(CASE WHEN n_kept < $KmvK THEN CAST(n_kept AS DOUBLE)
                      ELSE ${KmvK - 1}.0 * $KmvRange / CAST(h_k AS DOUBLE)
                      END, 6) AS kmv_estimate,
                    exact_distinct
                  FROM kth k JOIN ex USING (source))
          SELECT source, n_kept, u_k, kmv_estimate, exact_distinct,
                 round(abs(kmv_estimate - exact_distinct) / exact_distinct, 6)
                   AS rel_err
          FROM est ORDER BY source""",

    "td_zipf" ->
      s"""WITH freq AS (SELECT source, term, count(*) AS f FROM (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents) GROUP BY source, term),
          ranked AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
                            ln(CAST(f AS DOUBLE)) AS y FROM (
              SELECT source, f, term, row_number() OVER (PARTITION BY source
                ORDER BY f DESC, term ASC) AS rnk FROM freq)
            WHERE rnk <= $ZipfTopN),
          s AS (SELECT source, count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
                       sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM ranked GROUP BY source)
          SELECT source, n_terms,
                 round((n_terms * sxy - sx * sy) /
                       (n_terms * sxx - sx * sx), 6) AS zipf_slope
          FROM s ORDER BY source""",

    "td_oov_rate" ->
      s"""WITH st AS (SELECT source, term, count(*) AS c_st FROM (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents) GROUP BY source, term),
          vocab AS (SELECT term FROM (
              SELECT term, CAST(sum(c_st) AS BIGINT) AS f FROM st
              GROUP BY term ORDER BY f DESC, term ASC LIMIT $OovVocab)),
          j AS (SELECT s.source,
                       CASE WHEN v.term IS NULL THEN s.c_st ELSE 0 END AS oov,
                       s.c_st
                FROM st s LEFT JOIN vocab v ON s.term = v.term)
          SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
                 CAST(sum(oov) AS BIGINT) AS n_oov,
                 round(CAST(sum(oov) AS DOUBLE) / sum(c_st), 6) AS oov_rate
          FROM j GROUP BY source ORDER BY source""",

    "td_unicode_norm" ->
      s"""SELECT doc_id, length(raw) AS raw_len,
                 length(nfc_normalize(raw)) AS norm_len,
                 nfc_normalize(raw) AS normalized
          FROM (SELECT doc_id, concat(substr(text, 1, 24), '$UnicodeSuffix')
                  AS raw FROM documents)
          ORDER BY doc_id""",

    "emb_centroid_drift" ->
      s"""WITH $duckCosPrelude,
          ce AS (SELECT cell, list(cv ORDER BY idx) AS c_even FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT cell, generate_subscripts(emb, 1) AS idx,
                       unnest(emb) AS v
                FROM e WHERE vec_id % 2 = 0)
              GROUP BY cell, idx) GROUP BY cell),
          co AS (SELECT cell, list(cv ORDER BY idx) AS c_odd FROM (
              SELECT cell, idx, avg(v) AS cv FROM (
                SELECT cell, generate_subscripts(emb, 1) AS idx,
                       unnest(emb) AS v
                FROM e WHERE vec_id % 2 = 1)
              GROUP BY cell, idx) GROUP BY cell),
          cnt AS (SELECT cell,
                    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_even,
                    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_odd
                  FROM e GROUP BY cell)
          SELECT cnt.cell, n_even, n_odd,
                 round(${dCos("c_even", "c_odd")}, 6) AS drift_cosine
          FROM cnt JOIN ce USING (cell) JOIN co USING (cell)
          ORDER BY cnt.cell""",

    "td_source_jaccard" ->
      s"""WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term
                         FROM documents),
          dt AS (SELECT DISTINCT source, term FROM terms),
          hashed AS (SELECT source,
                       ${dHash("concat('kmv:', term)")} AS h FROM dt),
          kmin AS (SELECT source, list_sort(list(h)) AS kl FROM (
              SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h ASC) AS rk FROM hashed)
            WHERE rk <= $KmvPairK GROUP BY source),
          pairs AS (SELECT a.source AS source_a, a.kl AS ka,
                           b.source AS source_b, b.kl AS kb
                    FROM kmin a, kmin b WHERE a.source < b.source),
          est AS (SELECT source_a, source_b, ka, kb,
                    list_sort(list_distinct(list_concat(ka, kb)))[1:$KmvPairK]
                      AS ku
                  FROM pairs),
          e2 AS (SELECT source_a, source_b,
                   round(CAST(len(list_filter(ku, x ->
                       list_contains(ka, x) AND list_contains(kb, x)))
                     AS DOUBLE) / len(ku), 6) AS kmv_jaccard
                 FROM est),
          sizes AS (SELECT source, count(*) AS n FROM dt GROUP BY source),
          inter AS (SELECT a.source AS source_a, b.source AS source_b,
                           count(*) AS n_inter
                    FROM dt a JOIN dt b
                      ON a.term = b.term AND a.source < b.source
                    GROUP BY 1, 2),
          fin AS (SELECT e2.source_a, e2.source_b, kmv_jaccard,
                    round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                      (sa.n + sb.n - coalesce(n_inter, 0)), 6)
                      AS exact_jaccard
                  FROM e2
                  LEFT JOIN inter USING (source_a, source_b)
                  JOIN sizes sa ON sa.source = e2.source_a
                  JOIN sizes sb ON sb.source = e2.source_b)
          SELECT source_a, source_b, kmv_jaccard, exact_jaccard,
                 round(abs(kmv_jaccard - exact_jaccard), 6) AS abs_err
          FROM fin ORDER BY source_a, source_b""",

    // re-derived over TRUE decoded luma (r7): frames are 32-pixel runs
    // of the first-principles luma plane (duckLumaCte), matching the
    // Spark side's bmp_luma slices — cut logic unchanged
    "mm_scene_cuts" ->
      s"""WITH $duckLumaCte,
         $duckSceneFromLm""",

    // same cut logic over the PNG tier's first-principles luma plane
    "mm_png_scene_cuts" ->
      s"""WITH $duckPngLumaCte,
         $duckSceneFromLm""",

    "mm_avi_frames" ->
      s"""WITH $duckAviFrameCte
         SELECT doc_id, max(n_frames) AS n_frames,
                CAST(sum(energy) AS BIGINT) AS sum_energy,
                CAST(max(energy) AS BIGINT) AS max_frame_energy
         FROM fr GROUP BY doc_id ORDER BY doc_id""",

    // true-container-frame scene cuts: the avi frame CTE feeds the same
    // cut-decision tail the stride tiers use
    "mm_avi_scene_cuts" ->
      s"""WITH $duckAviFrameCte,
         $duckSceneTail""",

    "td_waterfill" ->
      """WITH counts AS (SELECT source,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
          r AS (SELECT source, n_tokens,
                  row_number() OVER w AS i,
                  count(*) OVER () AS m,
                  CAST(sum(n_tokens) OVER () AS BIGINT) // 2 AS budget,
                  CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens ASC,
                    source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
                    1 PRECEDING), 0) AS BIGINT) AS p_prev
                FROM counts
                WINDOW w AS (ORDER BY n_tokens ASC, source ASC)),
          r2 AS (SELECT *,
                   (n_tokens * (m - i + 1) <= budget - p_prev) AS is_full
                 FROM r),
          a AS (SELECT
                  CAST(sum(CASE WHEN is_full THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS sum_full,
                  CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_full
                FROM r2)
          SELECT source, n_tokens, is_full,
                 CASE WHEN is_full THEN n_tokens
                      ELSE (budget - sum_full) // (m - n_full) END
                   AS allocation,
                 budget
          FROM r2 CROSS JOIN a ORDER BY source""",

    "td_novelty" ->
      s"""WITH $duckShingles,
          d AS (SELECT doc_id,
                  count(*) OVER (PARTITION BY shingle) AS df FROM sh)
          SELECT doc_id, count(*) AS n_shingles,
                 CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
                 round(1.0 - CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*), 6) AS novelty
          FROM d GROUP BY doc_id ORDER BY doc_id""",

    "td_corpus_manifest" ->
      s"""SELECT source, count(*) AS n_docs,
                 bit_xor(${dHash("text")}) AS content_xor,
                 min(${dHash("text")}) AS min_hash,
                 max(${dHash("text")}) AS max_hash,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars_total
          FROM documents GROUP BY source ORDER BY source""",

    "emb_triplets" ->
      s"""WITH e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                      FROM embeddings),
          q2 AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb
                 FROM e2 WHERE vec_id < 5),
          scored AS (
            SELECT q2.query_id, e2.vec_id, (e2.label = q2.qlabel) AS same,
                   ${dCos("q2.qemb", "e2.emb")} AS cos
            FROM q2, e2 WHERE e2.vec_id != q2.query_id),
          best AS (
            SELECT query_id, vec_id, same, cos,
                   row_number() OVER (PARTITION BY query_id, same
                     ORDER BY cos DESC, vec_id ASC) AS rk
            FROM scored)
          SELECT query_id,
                 max(CASE WHEN same THEN vec_id END) AS positive_id,
                 max(CASE WHEN same THEN round(cos, 6) END) AS pos_cos,
                 max(CASE WHEN NOT same THEN vec_id END) AS negative_id,
                 max(CASE WHEN NOT same THEN round(cos, 6) END) AS neg_cos,
                 round(max(CASE WHEN same THEN round(cos, 6) END) -
                       max(CASE WHEN NOT same THEN round(cos, 6) END), 6)
                   AS margin
          FROM best WHERE rk = 1 GROUP BY query_id ORDER BY query_id""",

    "td_split_leakage" -> {
      def dSplit(x: String) = {
        val h = s"${dHash(s"concat('split:', CAST($x AS VARCHAR))")} % 100"
        s"CASE WHEN $h < 80 THEN 'train' WHEN $h < 90 THEN 'val' " +
          "ELSE 'test' END"
      }
      s"""WITH RECURSIVE $duckLshCandCtes,
          nd AS (SELECT doc_id_a, doc_id_b FROM lshcand WHERE jaccard >= 0.5),
          edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM nd
                    UNION SELECT doc_id_b, doc_id_a FROM nd),
          cc AS (
            SELECT src AS node, src AS label FROM edges
            UNION
            SELECT e.dst AS node, c.label FROM cc c JOIN edges e
              ON e.src = c.node),
          roots AS (SELECT node AS doc_id, min(label) AS canonical_id
                    FROM cc GROUP BY node),
          asg AS (SELECT d.doc_id,
                    ${dSplit("coalesce(r.canonical_id, d.doc_id)")} AS split,
                    ${dSplit("d.doc_id")} AS naive_split
                  FROM documents d LEFT JOIN roots r USING (doc_id)),
          leaks AS (SELECT
              CAST(sum(CASE WHEN a.split != b.split THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_aware,
              CAST(sum(CASE WHEN a.naive_split != b.naive_split
                THEN 1 ELSE 0 END) AS BIGINT) AS leaked_naive
            FROM nd JOIN asg a ON nd.doc_id_a = a.doc_id
                    JOIN asg b ON nd.doc_id_b = b.doc_id),
          ca AS (SELECT split, count(*) AS n_docs FROM asg GROUP BY split),
          nv AS (SELECT naive_split AS split, count(*) AS n_docs_naive
                 FROM asg GROUP BY naive_split)
          SELECT ca.split, n_docs,
                 CAST(coalesce(n_docs_naive, 0) AS BIGINT) AS n_docs_naive,
                 leaked_aware, leaked_naive
          FROM ca LEFT JOIN nv USING (split) CROSS JOIN leaks
          ORDER BY ca.split"""
    },

    // distinct on the HASH (not the term) to mirror the aggregate's
    // TreeSet-of-hashes state exactly
    "td_kmv_agg" ->
      s"""WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term
                         FROM documents),
          hashed AS (SELECT DISTINCT source,
                       ${dHash("concat('kmv:', term)")} AS h FROM terms),
          kth AS (SELECT source, max(h) AS h_k, count(*) AS n_kept FROM (
              SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h ASC) AS rk FROM hashed)
            WHERE rk <= $KmvK GROUP BY source)
          SELECT source, n_kept,
                 round(CAST(h_k AS DOUBLE) / $KmvRange, 9) AS u_k,
                 round(CASE WHEN n_kept < $KmvK THEN CAST(n_kept AS DOUBLE)
                   ELSE ${KmvK - 1}.0 * $KmvRange / CAST(h_k AS DOUBLE)
                   END, 6) AS kmv_estimate
          FROM kth ORDER BY source"""
  )

  /** Plan-audit tags, declared beside the registrations they excuse
    * (PlanAuditSpec consumes these and fails on stale or dangling tags).
    * `bnlj` reasons fall into three bounded-broadcast shapes: a query
    * set, a centroid table, or a ONE-ROW aggregate attach (the map-side
    * literal-attach pattern that replaces a separate driver-side
    * count()/first() job). */
  override val planTags: Map[String, PlanTag] = {
    val querySet = "bounded broadcast query set against a non-equi scoring condition"
    val centroids = "every vector scores against every centroid; broadcast side is the centroid table, bounded by cell count"
    val oneRow = "corpus-size/total rides the plan as a ONE-ROW broadcast aggregate (map-side literal attach)"
    Map(
      "emb_knn_brute" -> PlanTag(bnlj = Some(querySet)),
      "emb_knn_topk" -> PlanTag(bnlj = Some(querySet)),
      "emb_ivf_knn" -> PlanTag(bnlj = Some(querySet)),
      "emb_ivf_nprobe2" -> PlanTag(bnlj = Some(querySet)),
      "emb_quant_knn" -> PlanTag(bnlj = Some(querySet)),
      "emb_mrl_rerank" -> PlanTag(bnlj = Some(querySet)),
      "emb_mrl_recall" -> PlanTag(bnlj = Some(querySet)),
      "emb_filtered_knn" -> PlanTag(bnlj = Some(querySet)),
      "emb_kmeans_step" -> PlanTag(bnlj = Some(centroids)),
      "emb_pq_codes" -> PlanTag(bnlj = Some(centroids)),
      "emb_pq_knn" -> PlanTag(bnlj = Some(centroids)),
      "emb_ivfpq_knn" -> PlanTag(bnlj = Some(centroids)),
      "emb_silhouette" -> PlanTag(bnlj = Some(centroids)),
      "emb_ann_recall" -> PlanTag(bnlj = Some(
        "composes knnBruteForce + ivfSearch, inheriting their intentional broadcast-query-set scoring joins")),
      "emb_recall_curve" -> PlanTag(bnlj = Some(
        "composes knnBruteForce + ivfSearch, inheriting their intentional broadcast-query-set scoring joins")),
      "emb_hybrid_rrf" -> PlanTag(bnlj = Some(
        "the vector leg is knnBruteForce — same bounded broadcast query set")),
      "emb_nndescent" -> PlanTag(
        bnlj = Some("sampled brute-force truth leg is knnBruteForce on a 1-in-20 node sample — bounded broadcast query set, corpus streams once"),
        blockKnob = Some("nPlanes ∝ log N bounds the LSH seed; the NN-descent expansion itself is O(N·k²), not bucket-quadratic")),
      // r12: bnlj — the pool scan's BNLJ is VISIBLE in emb_mmr's
      // single-pipeline plan now that the greedy chain is the mmr_select
      // expression (the r1–r11 unrolled shape hid it behind the per-step
      // localCheckpoint leaves, so only this audit's view changed — the
      // executed join was always there)
      "emb_mmr" -> PlanTag(bnlj = Some(querySet),
        blockKnob = Some("pairwise sims are pool² per query — pool is a constant")),
      "emb_hard_negatives" -> PlanTag(bnlj = Some(
        "label-mismatch is non-equi by design; broadcast side is the query set")),
      "emb_triplets" -> PlanTag(bnlj = Some(
        "one scored scan for positive + hard negative; broadcast query set")),
      "emb_decontaminate" -> PlanTag(bnlj = Some(
        "eval-set scoring join: broadcast side is the benchmark, bounded by eval cardinality — the corpus is never shuffled")),
      "td_tfidf_top_term" -> PlanTag(bnlj = Some(oneRow)),
      "td_pmi_pairs" -> PlanTag(bnlj = Some(oneRow)),
      "td_unigram_logprob" -> PlanTag(bnlj = Some(oneRow)),
      "td_bigram_logprob" -> PlanTag(bnlj = Some(oneRow)),
      "td_source_kl" -> PlanTag(bnlj = Some(oneRow)),
      "td_mixture_sample" -> PlanTag(bnlj = Some(oneRow)),
      "td_bm25" -> PlanTag(bnlj = Some(oneRow)),
      "td_ppl_buckets" -> PlanTag(bnlj = Some(
        "composes unigramLogProb, inheriting its 1-row corpus-total attach")),
      // td_curriculum: NO tag since r13 — the staged frame (which
      // composes perplexityBuckets and its 1-row-attach BNLJ) is now an
      // eager checkpoint executed at query construction, so the audited
      // plan sees only the post-checkpoint window/join; the BNLJ still
      // executes, behind the leaf (the emb_mmr r1–r11 situation in
      // reverse). perplexityBuckets' own tag (td_ppl_buckets) keeps the
      // shape audited where it is visible.
      "td_unigram_vocab" -> PlanTag(bnlj = Some(oneRow)),
      "td_unigram_score" -> PlanTag(bnlj = Some(oneRow)),
      "td_unigram_em" -> PlanTag(bnlj = Some(oneRow)),
      // (td_unigram_train carried a bnlj tag in the r5 hand-list; the
      // staleness gate showed its executed plan has no nested loop —
      // the per-round totals all broadcast-hash-join. Tag removed.)
      "td_unigram_segment" -> PlanTag(bnlj = Some(oneRow)),
      // (td_unigram_prune needs no tag: its vocab — the one-row-attach
      // carrier — is localCheckpoint'd before the audited plan)
      "emb_pca_power" -> PlanTag(bnlj = Some(
        "two 1-row literal attaches: the mean array and the normalizer")),
      "td_lsh_recall" -> PlanTag(bnlj = Some(
        "three 1-row count frames folded into one row")),
      "td_temperature_mix" -> PlanTag(bnlj = Some(oneRow)),
      "td_kneser_ney" -> PlanTag(bnlj = Some(oneRow)),
      "td_dsir" -> PlanTag(bnlj = Some(oneRow)),
      "td_epoch_plan" -> PlanTag(bnlj = Some(
        "composes temperatureMixture, inheriting its 1-row totals attach")),
      "td_lm_holdout" -> PlanTag(bnlj = Some(oneRow)),
      "td_doremi" -> PlanTag(bnlj = Some(
        "composes lmHoldout + three 1-row attaches (global loss, token total, weight normalizer) onto the |sources|-row frame")),
      "td_distinct_sketch" -> PlanTag(bnlj = Some(
        "1-row exact-distinct calibration attach onto the |ms|-row sketch")),
      "emb_sim_histogram" -> PlanTag(
        bnlj = Some("1-row broadcast pair-total attach onto the |bins|-sized histogram"),
        blockKnob = Some("cell-blocked pair join, |bins|-sized output")),
      // (no bnlj tag since r12: the centroid-attach cross join runs
      // inside the scored prelude's localCheckpoint — a separate
      // execution with a ONE-ROW build side — so the audited final plan
      // is pair join + mark join only)
      "emb_semdedup" -> PlanTag(
        blockKnob = Some("kmeansCells(nCells) — pair work Σ|cell|²")),
      "emb_semdedup_collapsed" -> PlanTag(
        blockKnob = Some("kmeansCells(nCells) — pair work Σ|distinct per cell|², the r10 multiplicity-adaptive bound")),
      // (emb_curation_audit needs no bnlj tag: like td_curation_audit,
      // its returned frame is a LOCAL relation of already-collected
      // stage counts — the members' bounded broadcasts execute inside
      // run(), outside the audited plan)
      "emb_curation_audit" -> PlanTag(
        blockKnob = Some("composes emb_semdedup's cell blocking — " +
          "pair work Σ|cell|² on the exact-deduped corpus")),
      // (emb_kmeans_train / emb_kmeans_quality sat in the r5 bnlj
      // hand-list; the staleness gate showed neither plans a nested
      // loop — their centroid attaches broadcast-hash-join. Removed.)
      "td_waterfill" -> PlanTag(bnlj = Some(
        "1-row (sum_full, n_full) attach onto the |sources|-row table")),
      "td_split_leakage" -> PlanTag(
        bnlj = Some("1-row (leaked_aware, leaked_naive) attach onto the 3-row split table"),
        blockKnob = Some("composes the banded-LSH pair path end to end")),
      "td_source_jaccard" -> PlanTag(
        bnlj = Some("the |groups|² sketch pair matrix: a deliberate cross of two |groups|-row k-min frames — pair work runs on sketches, never the corpus; the corpus-sized side is one shared distinct (ReusedExchange)"),
        blockKnob = Some("exact-Jaccard calibration side: term-keyed pair join bounded by |groups|² per term (the KMV sketch path replaces it at scale)")),
      // exhaustive baselines, each naming its registered scale-path sibling
      "td_fuzzy_match" -> PlanTag(exhaustiveSibling = Some("td_fuzzy_blocked")),
      "td_near_dup_pairs" -> PlanTag(exhaustiveSibling = Some("td_lsh_candidates")),
      "td_dedup_clusters" -> PlanTag(exhaustiveSibling = Some("td_lsh_clusters")),
      // block-scoped quadratics with the knob that bounds them
      "emb_near_dup" -> PlanTag(blockKnob = Some(
        "cell count of the blocking label / index")),
      "emb_dedup_clusters" -> PlanTag(blockKnob = Some(
        "union-find over emb_near_dup's pair list")),
      "emb_cluster_stats" -> PlanTag(blockKnob = Some(
        "within-cell pair distances, Σ|cell|² bound")),
      "mm_phash_neardup" -> PlanTag(blockKnob = Some(
        "LSH band width (8-bit bands at sf1)")),
      "td_fuzzy_blocked" -> PlanTag(blockKnob = Some(
        "(source, sig-prefix) block count grows with N")),
      "td_jw_match" -> PlanTag(blockKnob = Some(
        "same (source, sig-prefix) blocking as td_fuzzy_blocked")),
      "td_snm_pairs" -> PlanTag(blockKnob = Some(
        "sorted-neighborhood: exactly N·w pairs, w constant")),
      "td_golden_record" -> PlanTag(blockKnob = Some(
        "composes the SNM pair path end to end")),
      "td_dedup_report" -> PlanTag(blockKnob = Some(
        "composes exact-digest + LSH + SNM pair paths")),
      "td_lsh_candidates" -> PlanTag(blockKnob = Some(
        "banded LSH: band count is the knob")),
      "td_lsh_clusters" -> PlanTag(blockKnob = Some(
        "banded LSH: band count is the knob")),
      "td_softdedup" -> PlanTag(blockKnob = Some(
        "same banded-LSH pair path, resolved to weights")),
      "td_doc_embed_knn" -> PlanTag(blockKnob = Some(
        "blockDims = max(2·dims, ⌈N/64⌉) derived from a corpus count per call — block count grows ∝ N, pair work ~64·N")),
      "td_segment_dedup" -> PlanTag(blockKnob = Some(
        "segment-frequency join, digest-keyed at scale")))
  }
}
