package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.BlockedPairs

/** Text-analysis + dedup operators for large-scale training-data pipelines.
  *
  * Everything here is pure Column expressions / narrow transforms — no UDFs
  * (keeps whole-stage codegen, SURVEY §2.11 stance) and no windows where a
  * higher-order array function does the job (shingling via `transform` over
  * the token array is per-row, so it needs no shuffle at all; a
  * window-by-doc formulation would shuffle the full corpus by doc_id).
  *
  * Determinism contract: every hash derives from md5 of the value, so
  * results are identical across engines, runs, and partitionings — which is
  * what makes these operators oracle-checkable AND makes dedup reproducible
  * on a 1000-executor cluster.
  *
  * 100 TB notes per operator:
  *  - exactDedup: one hash-shuffle on the 16-byte digest, not the document.
  *  - minhash/LSH: signatures are per-row (narrow); the only shuffle is the
  *    band-bucket join, whose fan-in LSH explicitly bounds.
  *  - simhash: per-row after a doc-grain distinct; pair search is blocked.
  *  - near-dup pair search is blocked (here by `source`) — an unblocked
  *    all-pairs join is quadratic and must never reach the planner.
  */
object TextOps {

  /** Documents are single-space tokenized (matches the synthetic corpus and
    * keeps exact parity with the oracle's string_split). */
  def tokens(text: Column): Column = split(text, " ")

  /** First 60 bits of md5 as a non-negative long — the shared cross-engine
    * hash primitive (DuckDB: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)).
    * Resolved to the native codegen'd graft.functions.Md5Prefix64 (register
    * via GraftFunctions.register(spark)); md5LongPortable is the equivalent
    * built-ins-only composition. */
  def md5Long(c: Column): Column = call_function("md5_prefix64", c)

  /** Built-ins-only equivalent of md5Long (hex-string round trip) — kept
    * for parity testing and for sessions without the registered function. */
  def md5LongPortable(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Materialize the token array as a real column. Callers of shingles()
    * MUST pass an attribute, not `tokens(col("text"))` inline: a Column
    * tree is duplicated at every reference site, and inside higher-order
    * lambdas (interpreted, no codegen CSE) an inline split() would re-split
    * the text for every element_at — O(tokens²) per row, measured ~4x the
    * whole operator's cost. Catalyst keeps this projection separate
    * (CollapseProject refuses to duplicate non-cheap expressions). */
  def tokenized(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens(col("text")))

  /** Distinct word-level k-shingles per row via higher-order functions —
    * no explode, no window, no shuffle. Rows with < k tokens yield an
    * empty shingle set. Pass a materialized token column (see tokenized). */
  def shingles(toks: Column, k: Int = 3): Column = {
    val sh = transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + lit(j + 1))): _*))
    // CASE guards the THEN branch: sequence(0, negative) never evaluates
    array_distinct(
      when(size(toks) >= k, sh).otherwise(array().cast("array<string>")))
  }

  /** MinHash signature component i: min over the shingle set of the
    * md5-derived hash salted with i. NULL when the set is empty. */
  def minhash(shingleSet: Column, i: Int): Column =
    array_min(transform(shingleSet, s => md5Long(concat(lit(s"$i:"), s))))

  /** doc_id + k minhash components (mh_0..mh_{k-1}) + band keys pairing
    * consecutive components (LSH banding: equal band key → candidate pair). */
  def minhashSignatures(docs: DataFrame, k: Int = 4): DataFrame = {
    val withShingles = tokenized(docs).select(
      col("doc_id"),
      shingles(col("toks")).as("sh"))
    val sig = withShingles.select(
      col("doc_id") +: (0 until k).map(i => minhash(col("sh"), i).as(s"mh_$i")): _*)
    val bands = (0 until k / 2).map { b =>
      md5(concat_ws("_", lit(b), col(s"mh_${2 * b}"), col(s"mh_${2 * b + 1}")))
        .as(s"band_$b")
    }
    sig.select(col("doc_id") +: (0 until k).map(i => col(s"mh_$i")) ++: bands: _*)
  }

  /** 16-bit SimHash over the distinct token set: bit j of the fingerprint
    * is set iff the sum of ±1 votes (from bit j of each token's hash) is
    * positive. Per-doc aggregation only — fully parallel. */
  def simhash16(docs: DataFrame): DataFrame = {
    val tokenHashes = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    val votes = (0 until 16).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"s_$j")
    }
    tokenHashes.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          when(col(s"s_$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Blocked near-duplicate pair search: within each `source` block, token-
    * set Jaccard + SimHash Hamming distance for every pair above the
    * Jaccard threshold. Blocking keys the join (quadratic only within a
    * block); at 100 TB the block key would be an LSH band from
    * minhashSignatures instead of a metadata column — same shape.
    *
    * `broadcastPairs`: the build side of the pair join is the corpus
    * itself. On a corpus that fits an executor, explicitly broadcasting it
    * is the fast, DETERMINISTIC plan — the probe side keeps full scan
    * parallelism, and pinning the strategy stops AQE from flipping between
    * broadcast and sort-merge run-to-run when the side's runtime size
    * straddles the threshold (measured as a 2s-vs-8s bimodal timing at
    * sf0.1; block-key cardinality is low, so sort-merge also collapses
    * parallelism to |blocks|). But a corpus-sized broadcast is exactly what
    * OOMs at 100×, so the DEFAULT (None) decides from the measured corpus
    * scan size via [[graft.ops.AutoBroadcast.sizeGate]]: small corpus →
    * pinned broadcast (deterministic local plan), big corpus → unhinted
    * shuffle join. Some(true)/Some(false) force either plan. The 4×
    * inflation covers the token-array + simhash projection being wider
    * in memory than the scanned text bytes. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5,
                   broadcastPairs: Option[Boolean] = None): DataFrame = {
    val side = docs
      .select(col("doc_id"), col("source"),
        array_distinct(tokens(col("text"))).as("toks"))
      .join(simhash16(docs), "doc_id")
    BlockedPairs(side, "doc_id", Seq("source"), Seq("toks", "simhash"),
      scores = Seq(
        "jaccard" -> BlockedPairs.setJaccard(col("toks_a"), col("toks_b")),
        "hamming_distance" ->
          bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))),
      keep = Some(col("jaccard") >= threshold),
      build = b => broadcastPairs match {
        case Some(true)  => broadcast(b)
        case Some(false) => b
        case None        => graft.ops.AutoBroadcast.sizeGate(b, inflation = 4.0)
      })
  }

  /** MinHash+LSH candidate-pair generation — the scale path for near-dup:
    * shingle → minhash → band → bucket self-join → exact-Jaccard verify on
    * candidates only. Docs with an empty shingle set (< k tokens) carry
    * NULL minhashes and are excluded — they cannot be shingle-similar to
    * anything. The bucket join's fan-in is bounded by bucket size (bands
    * hash near-uniformly), so the join never goes quadratic in the corpus;
    * only the final verify touches shingle sets, and only for candidates. */
  def lshCandidatePairs(docs: DataFrame, k: Int = 4): DataFrame =
    lshJaccardPairs(docs, k, None)

  /** Incremental (delta) near-dup — the NIGHTLY-INGEST form of
    * [[lshCandidatePairs]]: banded-LSH candidates restricted to CROSS
    * pairs between a new slice (`isNew` rows) and the existing corpus,
    * verified by exact shingle Jaccard. A production pipeline never
    * re-deduplicates the settled corpus against itself on every ingest;
    * it asks "which INCOMING documents near-duplicate something we
    * already hold" — old×old pairs are excluded by construction, so a
    * delta of d docs against a corpus of N costs the d-side band build
    * plus bucket joins whose fan-in the banding already bounds,
    * NOT the (N+d)² restart. The band/bucket machinery, shingle
    * materialization, and verify arithmetic are byte-identical to the
    * full-corpus operator, so thresholds tuned on [[lshCandidatePairs]]
    * transfer unchanged. At 100 TB the old side's band table is a
    * precomputed index (the same banded signatures, staged once);
    * here it derives inline, same plan shape. */
  def deltaNearDupPairs(docs: DataFrame, isNew: Column, k: Int = 4): DataFrame =
    lshJaccardPairs(docs, k, Some(isNew))

  /** The one body of [[lshCandidatePairs]] (`isNew` None: every pair once)
    * and [[deltaNearDupPairs]] (new × old cross pairs only). */
  private def lshJaccardPairs(docs: DataFrame, k: Int,
                              isNew: Option[Column]): DataFrame = {
    val nBands = k / 2
    val carry = isNew.map(_ => col("__new")).toSeq
    // The shingle set is the expensive projection (k-gram assembly + dedup
    // over every token of every doc) and is consumed FOUR times: both band
    // sides of the bucket self-join and both sides of the Jaccard verify.
    // Materialize it once — without this, Catalyst re-derives it from the
    // scan per consumer (measured 17s→5s at sf0.1). At cluster scale this
    // persist would be a staged parquet write; the shape is the same.
    val shingleSets = tokenized(isNew.fold(docs)(docs.withColumn("__new", _)))
      .select(col("doc_id") +: carry :+ shingles(col("toks")).as("shset"): _*)
      .persist()
    // verify sides broadcast when the shingle frame fits the session
    // threshold (estimate from the un-persisted plan, ×4 inflation for
    // the array-of-strings row width): the candidate pairs then never
    // shuffle shingle ARRAYS — the same gated pattern as
    // prefixJaccardPairs' verify. At scale the gate declines and the
    // verify joins shuffle on the pair keys.
    val verifyBroadcast = graft.ops.AutoBroadcast.decideFrom(shingleSets, 4)
    val bands = shingleSets
      .select(col("doc_id") +: carry ++:
        (0 until k).map(i => minhash(col("shset"), i).as(s"mh_$i")): _*)
      .filter(col("mh_0").isNotNull)
      .select(col("doc_id") +: carry :+ explode(array((0 until nBands).map(bd =>
        struct(lit(bd).as("band_idx"),
          md5(concat_ws("_", lit(bd), col(s"mh_${2 * bd}"), col(s"mh_${2 * bd + 1}")))
            .as("band_key"))): _*)).as("b"): _*)
      .select(col("doc_id") +: carry ++: Seq(col("b.band_idx"), col("b.band_key")): _*)
    val (candidates, ids) = isNew match {
      case None =>
        (BlockedPairs(bands, "doc_id", Seq("band_idx", "band_key"),
          shared = Some("n_shared_bands")), ("doc_id_a", "doc_id_b"))
      case Some(_) =>
        // new × old is oriented by construction: no self-pairs, no twins
        (bands.filter(col("__new")).as("x")
          .join(bands.filter(!col("__new")).as("y"), Seq("band_idx", "band_key"))
          .groupBy(col("x.doc_id").as("doc_id_new"), col("y.doc_id").as("doc_id_old"))
          .agg(count(lit(1)).as("n_shared_bands")), ("doc_id_new", "doc_id_old"))
    }
    BlockedPairs.verifyJaccard(candidates, shingleSets, "doc_id", "shset", ids,
      verifyBroadcast)
  }

  /** Snapshot delta audit — what changed between two corpus versions,
    * per source: rows only in `cur` (added), only in `prev` (removed),
    * in both with different content digests (changed), or identical
    * (unchanged). The observability half of incremental curation: every
    * nightly build should publish this next to its output so a
    * surprising delta (a source suddenly churning 40% of its documents)
    * is caught before training, not after. One full-outer join on the
    * id carrying 16-byte digests — never document text — then a
    * |sources|-row aggregate. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), col("source").as("source_a"),
      md5(col("text")).as("h_a"))
    val b = cur.select(col("doc_id"), col("source").as("source_b"),
      md5(col("text")).as("h_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_b"), col("source_a")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
  }

  /** LSH banding planner — the operational question behind every banded
    * operator here: given a hash budget, which (bands, rows-per-band)
    * split do you deploy? For each divisor split b·r = `totalHashes` and
    * each Jaccard level j ∈ {0.05..0.95}, the candidate probability
    * 1 − (1 − j^r)^b (the S-curve), plus the split's characteristic
    * threshold (1/b)^(1/r) where the curve crosses ~50%. Model-sized
    * driver arithmetic — no corpus involved; powers expand to explicit
    * multiplication chains so every value is a correctly-rounded IEEE
    * product sequence, bit-reproducible in any engine. */
  def lshBandingPlan(spark: org.apache.spark.sql.SparkSession,
                     totalHashes: Int = 16): DataFrame = {
    import spark.implicits._
    val rows = for {
      b <- (1 to totalHashes).filter(totalHashes % _ == 0)
      r = totalHashes / b
      i <- 1 to 19
    } yield {
      val j = i / 20.0
      val jr = (1 to r).foldLeft(1.0)((acc, _) => acc * j)
      val miss = (1 to b).foldLeft(1.0)((acc, _) => acc * (1.0 - jr))
      (b, r, math.rint(j * 1e6) / 1e6,
        math.rint((1.0 - miss) * 1e6) / 1e6,
        math.rint(math.pow(1.0 / b, 1.0 / r) * 1e6) / 1e6)
    }
    rows.toDF("bands", "rows_per_band", "jaccard", "p_candidate",
      "threshold_50pct")
  }

  /** Order-sensitive polynomial rolling hash over the token sequence
    * (Rabin–Karp shape): h ← (h·31 + tokenHash) mod 2^40. The left fold via
    * `aggregate` is sequential per row — deterministic and engine-portable.
    * Token hashes are masked to 16 bits and the modulus keeps the
    * accumulator under 2^45, so the arithmetic never overflows a signed
    * 64-bit value in any engine. */
  def rollingHash(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * lit(31L) + md5Long(t) % lit(65536L)) % lit(1099511627776L))

  /** PII patterns, deliberately in the syntax subset Java regex and RE2
    * share (no lookaround, no backrefs) so the same pattern runs in Spark,
    * DuckDB, and most scan engines byte-identically. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"

  /** PII scrub: count and redact emails / IPv4s / phone-shaped numbers,
    * replacing each with a typed sentinel token. Pure per-row regex work —
    * narrow map, codegen'd, no shuffle — which is why this belongs in the
    * same scan as quality scoring in a production pipeline. Order of
    * redaction matters and is fixed: emails first (an email can contain
    * digits), then IPs (dotted digits would half-match the phone rule),
    * then phones. */
  def scrubPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Pattern)).as("n_ips"),
      regexp_count(col("text"), lit(PhonePattern)).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        PhonePattern, "<PHONE>").as("scrubbed"))

  /** BPE-ish pre-tokenizer pattern: runs of letters, runs of digits, runs
    * of other symbols — the shape GPT-style pre-tokenizers split on,
    * reduced to the Java-regex/RE2 common subset. */
  val BpePiecePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  /** Token counting both ways a pipeline needs it: whitespace words (the
    * dedup/statistics unit) and BPE-ish pieces (the budget unit a trainer
    * actually pays). pieces_per_word > 1 flags digit- and symbol-heavy
    * text that blows the token budget. Per-row regex only. */
  def tokenBudget(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit(BpePiecePattern)).as("bpe_pieces"))
      .withColumn("pieces_per_word",
        round(col("bpe_pieces") / greatest(col("ws_tokens"), lit(1)).cast("double"), 6))

  /** Replace every adjacent (a, b) symbol pair with the merged symbol,
    * left-to-right non-overlapping — the BPE merge step as a row-local
    * array fold (no shuffle; applying a merge to the vocabulary is a
    * narrow map). After a merge the accumulator's tail is the LONGER
    * merged symbol, so runs self-limit exactly like the sequential
    * algorithm ("aaaaa" + (a,a) → aa aa a). */
  def bpeMergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Full BPE training (Sennrich et al., arXiv:1508.07909): iterate
    * "count adjacent symbol pairs → merge the most frequent" `nMerges`
    * times. The 100 TB shape hinges on one fact: after the FIRST
    * aggregation everything operates on the word-frequency table, which
    * is vocabulary-sized (sublinear in corpus) — the corpus itself is
    * tokenized exactly once. Each iteration is one vocab-sized
    * aggregation plus a 1-row argmax collect (the merge decision is
    * inherently sequential — that single row per round is the entire
    * driver traffic), and the vocabulary frame is localCheckpoint'd per
    * round to truncate the growing lineage, the same discipline as the
    * dedup-cluster loop. Ties break (count desc, sym_a, sym_b) so the
    * merge table is deterministic in any engine.
    *
    * Returns the merge table — rank, the pair, the merged symbol, and
    * the pair count at merge time — which IS the trained tokenizer
    * artifact ([[bpeMergeOnce]] folded over it encodes text). */
  def bpeTrain(docs: DataFrame, nMerges: Int = 16,
               minPairCount: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    var words = tokenized(docs)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(split(col("word"), "").as("syms"), col("n"))
      .localCheckpoint(false) // materialized by round 1's argmax
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("n").as("pair_count"))
        .orderBy(col("pair_count").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minPairCount) exhausted = true
      else {
        val (a, b, c) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((rank, a, b, a + b, c))
        words = words.select(bpeMergeOnce(col("syms"), a, b).as("syms"), col("n"))
          .localCheckpoint(false) // materialized by the next argmax (r12:
          // lazy halves the per-round job count; the final round's merge
          // is never materialized at all — it has no consumer)
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** Apply a trained merge table ([[bpeTrain]]'s output) to the corpus —
    * the ENCODE half of the tokenizer lifecycle. The scale trick is the
    * same one training uses: merges are folded over the DISTINCT-WORD
    * table (vocabulary-sized, sublinear in corpus), so each word is
    * encoded once no matter how often it occurs; the corpus then joins
    * its words to the encoded vocabulary (size-gated broadcast). The
    * fold itself is `nMerges` nested row-local array aggregates — no
    * shuffle anywhere in the encoding. Output is per-doc piece
    * accounting; `pieces_per_word` is the compression ratio, the
    * standard tokenizer-quality metric. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = tokenized(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val pieces = merges.foldLeft(split(col("word"), ""): Column) {
      case (c, (a, b)) => bpeMergeOnce(c, a, b)
    }
    val encVocab = words.select("word").distinct()
      .select(col("word"), pieces.as("pieces"))
    words.join(graft.ops.AutoBroadcast.sizeGate(encVocab), "word")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).as("n_pieces"),
        round(sum(size(col("pieces"))).cast("double") / count(lit(1)), 6)
          .as("pieces_per_word"))
  }

  /** Benchmark decontamination, step 1: per-corpus-doc count of distinct
    * k-shingles shared with an eval/benchmark set. The 100 TB shape:
    * benchmark shingles are eval-set-sized (millions, not corpus-sized) →
    * broadcast; the corpus side is a row-local explode of its (already
    * per-doc-distinct) shingle sets into a broadcast hash join, so the
    * corpus is never shuffled — only matched (doc_id, shingle) rows reach
    * the per-doc aggregation, and matches are rare by construction.
    * Production decontamination uses k≈8-13; k is a knob here. */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame = {
    val bg = tokenized(benchmark)
      .select(explode(shingles(col("toks"), k)).as("shingle")).distinct()
    tokenized(corpus)
      .select(col("doc_id"), explode(shingles(col("toks"), k)).as("shingle"))
      .join(broadcast(bg), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Benchmark decontamination, step 2: the clean corpus. Contaminated
    * doc_ids are few → broadcast anti join, corpus still unshuffled. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame =
    corpus.join(
      broadcast(contaminationHits(corpus, benchmark, k).select("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Decontamination with a Bloom prefilter — the shape that survives
    * benchmark sets too large to broadcast as strings. The benchmark's
    * distinct shingles are folded into a Bloom filter over their 60-bit
    * md5 keys (one pass over the SMALL side; ~10 bits/entry at 1% fpp vs
    * tens of bytes per shingle string), and the corpus side probes the
    * sketch inside whole-stage codegen BEFORE anything reaches a join —
    * dropping ~(1-fpp) of non-contaminated shingle rows at the scan. The
    * surviving trickle (true hits + fpp of the rest) then goes through
    * the exact string-equality confirm join, so the final answer is
    * IDENTICAL to [[decontaminate]] regardless of fpp or hash collisions
    * — Bloom false positives cost a few joined rows, never a wrong
    * answer, and Bloom filters have no false negatives.
    *
    * `expectedShingles` sizes the filter (config-driven, as in any
    * production bloom; overshooting only wastes bits). The builder runs
    * one job over the benchmark side at construction time — same
    * index-build pattern as the IVF/PQ builders. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, k: Int = 8,
                         expectedShingles: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame = {
    val bg = tokenized(benchmark)
      .select(explode(shingles(col("toks"), k)).as("shingle")).distinct()
    val bf = bg.select(md5Long(col("shingle")).as("h"))
      .stat.bloomFilter("h", expectedShingles, fpp)
    val bfBytes = graft.functions.BloomMightContain.serialize(bf)
    val pre = tokenized(corpus)
      .select(col("doc_id"), explode(shingles(col("toks"), k)).as("shingle"))
      .filter(call_function("bloom_might_contain",
        md5Long(col("shingle")), lit(bfBytes)))
    // exact confirm on the prefiltered trickle. SIZE-GATED, not pinned:
    // this path exists precisely for benchmarks too big to broadcast, so
    // pinning broadcast(bg) here would re-plant the landmine the sketch
    // removes — over the gate the confirm becomes a shuffle join, whose
    // corpus side is only the prefiltered survivors (~fpp of shingles)
    val gate = (df: DataFrame) => graft.ops.AutoBroadcast.sizeGate(df, 4.0)
    val hits = pre.join(gate(bg), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    corpus.join(gate(hits.select("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** Size-adaptive decontamination: the exact broadcast-set path while
    * the benchmark fits the session broadcast threshold, the Bloom-
    * prefilter path beyond it. Both return the IDENTICAL clean corpus
    * ([[decontaminateBloom]]'s confirm join guarantees it), so the flip
    * is purely a physical decision — the AutoBroadcast.sizeGate
    * discipline applied here: no pinned default that OOMs at 100×.
    * Inflation 4×: the broadcast side is the benchmark's exploded
    * k-shingle set, several times wider than its scan bytes. */
  def decontaminateAuto(corpus: DataFrame, benchmark: DataFrame, k: Int = 8,
                        expectedShingles: Long = 1L << 20,
                        fpp: Double = 0.01): DataFrame = {
    val t = graft.ops.AutoBroadcast.thresholdBytes(benchmark)
    val est = graft.ops.AutoBroadcast.estimatedBytes(benchmark) * 4
    if (t > 0 && est <= t) decontaminate(corpus, benchmark, k)
    else decontaminateBloom(corpus, benchmark, k, expectedShingles, fpp)
  }

  /** Document fingerprints: the minimum shingle digest (winnowing-style,
    * stable under reordering outside the minimal window), an
    * order-sensitive rolling hash, and a whole-document hash. */
  def fingerprints(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id"), shingles(col("toks")).as("sh"), col("toks"), col("text"))
      .select(
        col("doc_id"),
        array_min(transform(col("sh"), s => md5(s))).as("winnow_fp"),
        rollingHash(col("toks")).as("rolling_fp"),
        md5Long(col("text")).as("doc_hash"))

  /** Resolve near-dup pairs into clusters: connected components by
    * iterative minimum-label propagation, the step that turns a pair list
    * into per-document canonical assignments (keep canonical, drop the
    * rest). Converges in O(component diameter) rounds — near-dup clusters
    * are shallow (most are cliques), so the loop exits in 2-3 rounds; each
    * round is one join + one aggregation, all distributed. The driver-side
    * loop with a convergence count is the standard shape for iterative
    * graph algorithms on DataFrames (GraphX/GraphFrames do the same
    * internally).
    *
    * Input: pairs with doc_id_a < doc_id_b. Output: (doc_id,
    * canonical_id) for every doc that appears in at least one pair, where
    * canonical_id is the smallest doc_id in its component. */
  /** Pair graphs at or below this size resolve with a driver-side
    * union-find instead of the distributed loop: 1M (long,long) pairs is
    * ~16 MB on the driver — the same order a broadcast join ships — and
    * union-find with path compression resolves it in milliseconds, where
    * the DataFrame loop pays seconds of per-round planning + scheduling
    * regardless of data size. The verified near-dup graph is orders of
    * magnitude smaller than the corpus that produced it (only docs with a
    * ≥-threshold match appear), so even multi-TB corpora usually land in
    * this tier; corpora whose duplicate graph genuinely exceeds it take
    * the distributed path below. */
  val DriverUnionFindMaxPairs: Long = 1L << 20

  def dedupClusters(pairs: DataFrame, maxIter: Int = 20,
                    driverMaxPairs: Long = DriverUnionFindMaxPairs): DataFrame = {
    // localCheckpoint (not persist): an iterative DataFrame algorithm must
    // TRUNCATE lineage each round, or the logical plan embeds the previous
    // round's plan in each branch and Catalyst analysis grows 3^rounds —
    // measured minutes of pure driver planning on kilobytes of data.
    // materialize the pair list once: the symmetric-edge union references
    // it twice, and without truncation the (expensive) pair pipeline would
    // execute once per reference
    val p = pairs
      .select(col("doc_id_a").cast("long"), col("doc_id_b").cast("long"))
      .localCheckpoint(true)
    val spark = p.sparkSession
    val pairCount = p.count()
    if (pairCount <= driverMaxPairs) return driverUnionFind(p)
    // Distributed tier. Size the loop's shuffle parallelism to the GRAPH,
    // not the corpus: at 32 default partitions a ~10⁴-edge frontier spends
    // ~90% of each round in task scheduling + AQE micro-jobs (measured
    // ~44 jobs/run → 14 with this block). AQE is switched off for the
    // loop because its per-stage job materialization is pure overhead at
    // frontier scale — every join below is on checkpointed frames whose
    // sizes we already know better than the optimizer. Both confs are
    // restored in the finally; the loop is driver-sequential so no
    // concurrent query in this session planned under the override (confs
    // are read at planning time only).
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val loopParts = math.max(4L, math.min(prevParts.toLong, pairCount / 500000L))
    try {
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      dedupClustersLoop(p, maxIter)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** Small-graph tier: exact union-find with path compression, canonical =
    * component minimum (union always points the larger root at the
    * smaller). One collect of the pair list, O(E α(E)) on the driver, one
    * parallelize back out — versus ~2 Spark jobs per propagation round for
    * the loop. Only reached when the pair count is already known to be
    * ≤ driverMaxPairs. */
  private def driverUnionFind(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // collect, not toLocalIterator: the pair count is already known to be
    // ≤ driverMaxPairs (~16 MB), and toLocalIterator schedules one Spark
    // job PER PARTITION (32 scheduling round-trips for a frame this size)
    // where collect is a single job.
    val it = p.collect().iterator
    while (it.hasNext) {
      val row = it.next()
      val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      else { parent.getOrElseUpdate(ra, ra); () }
      // both endpoints must appear in the result even when already merged
      parent.getOrElseUpdate(row.getLong(0), find(row.getLong(0)))
      parent.getOrElseUpdate(row.getLong(1), find(row.getLong(1)))
    }
    val assignments = parent.keysIterator.map(n => (n, find(n))).toSeq
    spark.createDataset(assignments).toDF("doc_id", "canonical_id")
  }

  private def dedupClustersLoop(p: DataFrame, maxIter: Int): DataFrame = {
    val edges = p.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      .unionByName(p.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // fold the first propagation into the init: label₀ = min(self,
    // neighbors). The loop's pointer branch is a no-op while label == node,
    // so running round 1 through the generic body would pay the pointer
    // join on the full-size edge set for nothing.
    val neighborMin = edges.groupBy(col("dst").as("node")).agg(min("src").as("nmin"))
    var labels = edges.select(col("src").as("node")).distinct()
      .join(neighborMin, Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("nmin"), col("node"))).as("label"))
      .localCheckpoint(false) // materialized (and cached) by round 1's contraction job
    // Convergence in O(log diameter) rounds: each round takes the min over
    // (a) the current label, (b) neighbors' labels (edge propagation), and
    // (c) the label OF the label (pointer doubling — contracts chains
    // exponentially; plain propagation alone is O(diameter) rounds, which
    // on chain-shaped near-dup graphs was ~20 rounds vs 5 here).
    var iter = 0
    var converged = false
    var liveEdges = edges
    while (!converged && iter < maxIter) {
      val viaEdges = liveEdges.join(labels, liveEdges("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val viaPointer = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.node"))
        .select(col("a.node").as("node"), col("b.label").as("label"))
      // Lazy checkpoint: truncates SQL lineage immediately (the returned
      // plan is already a LogicalRDD) but defers materialization to the
      // eager edge-contraction checkpoint below, which computes every
      // label partition as a dependency — one Spark job per round instead
      // of two. Eager here would pay a second full job for nothing.
      val next = labels.unionByName(viaEdges).unionByName(viaPointer)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      labels = next
      // Contract edges onto the label graph: (u,v) becomes
      // (label(u), label(v)), self-loops dropped, duplicates merged.
      // Contraction (not dropping — dropping an intra-label edge can
      // disconnect a pointer chain from the component minimum, which the
      // oracle diff caught) preserves connectivity at the supernode level:
      // the min keeps flowing between label nodes, and every original node
      // follows its label node via pointer doubling. Near-dup graphs are
      // dense cliques, so the contracted graph after round one is ~1% of
      // the original edges and later rounds touch only that frontier.
      liveEdges = liveEdges
        .join(labels.select(col("node").as("src"), col("label").as("src_label")), "src")
        .join(labels.select(col("node").as("dst"), col("label").as("dst_label")), "dst")
        .filter(col("src_label") =!= col("dst_label"))
        .select(col("src_label").as("src"), col("dst_label").as("dst"))
        .distinct()
        .localCheckpoint(true)
      // Merge-phase fixpoint: the contracted edge set is empty ⟺ every
      // component's supernodes have merged into one label (contraction
      // preserves supernode connectivity, and the only label that can be a
      // fixpoint is the component minimum — its own label can never drop
      // below itself). isEmpty on the just-checkpointed edges is a
      // first-partition probe — unlike a label-sum compare it costs no
      // extra aggregation job and no confirmation round. It does NOT mean
      // every node's label IS the minimum yet: node→label pointer chains
      // can still be >1 hop (the property spec caught exactly that), hence
      // the tail phase below.
      converged = liveEdges.isEmpty
      iter += 1
    }
    // Tail phase: pure pointer doubling until no label can decrease. No
    // edge joins — just the (small) label map chasing itself; chains are
    // already short from doubling during the merge phase, so this is
    // usually 1 probe + 0-1 update rounds.
    var settled = false
    var tail = 0
    while (!settled && tail < maxIter) {
      val parents = labels.select(col("node").as("p_node"), col("label").as("p_label"))
      val shorter = labels.join(parents, col("label") === col("p_node"))
        .filter(col("p_label") < col("label"))
        .select(col("node"), col("p_label").as("label"))
        .localCheckpoint(true)
      if (shorter.isEmpty) settled = true
      else {
        // shorter is node-unique (labels is node-unique, parent map is
        // functional), so the update is a left join + coalesce — no
        // re-aggregation needed.
        labels = labels
          .join(shorter.withColumnRenamed("label", "new_label"), Seq("node"), "left")
          .select(col("node"), coalesce(col("new_label"), col("label")).as("label"))
          .localCheckpoint(false) // materialized by the next probe or the caller

      }
      tail += 1
    }
    labels.select(col("node").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Normalization: lowercase, strip non-alphanumeric to spaces, squeeze
    * runs of spaces, trim — the standard cheap canonicalization before
    * hashing/dedup. Pure per-row expressions, no shuffle. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Fixed-size token chunking with overlap — context-window packing for
    * training: one output row per chunk of `size` tokens advancing by
    * `stride` (< size ⇒ overlapping chunks). A per-row transform + explode
    * (narrow, no shuffle); rows shorter than one chunk yield one chunk. */
  def chunked(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    val nChunks = greatest(
      ceil((size(col("toks")) - lit(chunkSize)).cast("double") / stride).cast("int") + 1,
      lit(1))
    tokenized(docs)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(size(col("toks")) - col("chunk_idx") * stride, lit(chunkSize))
          .as("chunk_tokens"))
  }

  /** Length-bucketed batch assembly — the padding-efficiency counterpart
    * of [[packSequences]]: instead of concatenating the stream, group
    * documents of SIMILAR length (bucket = n_tokens div bucketWidth) and
    * deal each bucket into fixed-size batches in a deterministic salted
    * order, so a batch pads only to its own bucket's ceiling. The
    * standard trade vs packing: no cross-document attention leakage, at
    * the cost of intra-bucket padding.
    *
    * Scale shape: the batch-numbering window partitions by
    * (bucket, sub_bucket) where the sub-bucket is a salted hash split —
    * real corpora concentrate mass in few length buckets, so the
    * sub-bucket count is the skew knob that keeps every window's
    * partition bounded (batches never span sub-buckets, so semantics
    * survive any subBuckets choice; at 100 TB set it so
    * corpus/(buckets·subBuckets) fits an executor). Order inside a
    * sub-bucket is a salted md5 of doc_id — a reproducible training-order
    * shuffle, append-stable like every sampling op here. */
  def lengthBuckets(docs: DataFrame, bucketWidth: Int = 64,
                    batchSize: Int = 8, subBuckets: Int = 4): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0 && subBuckets > 0)
    val t = tokenized(docs)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .withColumn("bucket", expr(s"CAST(n_tokens AS LONG) div $bucketWidth"))
      .withColumn("sub_bucket",
        pmod(md5Long(concat(lit("lb:"), col("doc_id"))), lit(subBuckets.toLong)))
      .withColumn("shuffle_key", md5Long(concat(lit("lbo:"), col("doc_id"))))
    val w = Window.partitionBy("bucket", "sub_bucket")
      .orderBy(col("shuffle_key"), col("doc_id"))
    t.withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"CAST(rn - 1 AS LONG) div $batchSize"))
      .select("doc_id", "n_tokens", "bucket", "sub_bucket", "batch_id")
  }

  /** Padding-waste comparison: the measure-don't-guess companion of
    * [[lengthBuckets]]. A padded batch costs `batchMax × batchSize`
    * token slots; waste is the slots not covered by real tokens. Compares
    * the length-bucketed deal against a NAIVE baseline that batches the
    * same salted order without length grouping (same sub-bucket hash
    * split, so both sides carry identical window bounds) — the output is
    * the quantified claim that bucketing pays: same batch count, lower
    * padding fraction. One aggregation per strategy over the same narrow
    * assignment frames; two rows out. */
  def paddingWaste(docs: DataFrame, bucketWidth: Int = 64,
                   batchSize: Int = 8, subBuckets: Int = 4): DataFrame = {
    def waste(assigned: DataFrame, strategy: String): DataFrame =
      assigned
        .groupBy("bucket", "sub_bucket", "batch_id")
        .agg(max("n_tokens").as("cap"), count(lit(1)).as("n"),
          sum("n_tokens").as("toks"))
        .agg(count(lit(1)).as("n_batches"),
          round(lit(1.0) - sum(col("toks")).cast("double") /
            sum(col("cap") * col("n")), 6).as("padding_frac"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("padding_frac"))
    val bucketed = lengthBuckets(docs, bucketWidth, batchSize, subBuckets)
    // naive: identical deal, but every doc lands in one length bucket —
    // batches mix lengths and pad to the batch max
    val naive = lengthBuckets(docs, bucketWidth = Int.MaxValue,
      batchSize = batchSize, subBuckets = subBuckets)
    waste(bucketed, "length_bucketed")
      .unionByName(waste(naive, "naive"))
  }

  /** Sequence packing (GPT-style concat-and-slice): treat the corpus as
    * one token stream in doc_id order, slice it into `budget`-token
    * context windows, and report where each document lands — pack_id and
    * offset. The core primitive is a GLOBAL prefix sum, which a naive
    * `Window.orderBy(doc_id)` computes on a single partition (the
    * classic scale bug). This does it distributed and deterministic:
    *   1. fixed-width doc_id buckets (order-preserving),
    *   2. per-bucket token totals — `buckets` rows, one tiny two-stage agg,
    *   3. running offsets over those totals on the driver, broadcast back,
    *   4. per-bucket windowed cumsum, shifted by the bucket's offset.
    * Each window sorts one bucket, not the corpus; the only global object
    * is the `buckets`-row offset table. Same shape as a parallel scan's
    * block-sums pass. */
  def packSequences(docs: DataFrame, budget: Int = 2048,
                    buckets: Int = 256): DataFrame = {
    require(budget > 0 && buckets > 0)
    val t = tokenized(docs)
      .select(col("doc_id").cast("long").as("doc_id"), size(col("toks")).as("n_tokens"))
    val maxId = t.agg(max("doc_id")).first().getLong(0)
    val width = math.max(1L, maxId / buckets + 1)
    val b = t.withColumn("bucket", (col("doc_id") / width).cast("long"))
    val totals = b.groupBy("bucket").agg(sum("n_tokens").as("tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (bk, tok) => val o = (bk, acc); acc += tok; o }
    val spark = docs.sparkSession
    import spark.implicits._
    val offsetDf = offsets.toSeq.toDF("bucket", "bucket_offset")
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    b.join(broadcast(offsetDf), "bucket")
      .withColumn("cum_before",
        col("bucket_offset") + sum("n_tokens").over(w) - col("n_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("cum_before"),
        (col("cum_before") / budget).cast("long").as("pack_id"),
        (col("cum_before") % budget).as("offset_in_pack"))
  }

  /** Per-language marker token lists for the n-gram/stopword lang-id
    * heuristic. (Markers chosen from the corpus vocabulary; on real text
    * these would be per-language stopword n-grams.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "order", "table", "group"),
    "de" -> Seq("customer", "big", "hash"),
    "fr" -> Seq("scan", "data", "query"),
    "es" -> Seq("merge", "agg", "slow"),
    "zh" -> Seq("join", "fast", "stream"))

  /** Language-ID heuristic: count marker hits per language over the token
    * array, predict the max with a fixed precedence tie-break. */
  def langId(docs: DataFrame): DataFrame = {
    val withScores = langMarkers.foldLeft(
      docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))) {
      case (df, (l, markers)) =>
        val list = markers.map(m => s"'$m'").mkString(", ")
        df.withColumn(s"score_$l",
          expr(s"size(filter(toks, t -> t IN ($list)))"))
    }
    val langs = langMarkers.map(_._1)
    val predicted = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .reduce(_ && _)
      when(geAll, l).otherwise(rest)
    }
    withScores.select(
      col("doc_id") +: col("lang") +:
        langs.map(l => col(s"score_$l")) :+
        predicted.as("predicted_lang"): _*)
      .withColumn("lang_match", (col("lang") === col("predicted_lang")).cast("int"))
  }

  /** Per-document top TF-IDF term: tf = in-doc count, idf = ln(N/df) over
    * the corpus, ties broken lexicographically. Two aggregations (term
    * frequency per doc, document frequency per term) + one broadcast-able
    * join on the term — the standard distributed shape; at 100 TB the df
    * table is vocabulary-sized, orders of magnitude under the corpus. */
  def topTfidfTerm(docs: DataFrame): DataFrame = {
    val toks = tokenized(docs).select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derives FROM tf (one row per (doc, term) is exactly "docs
    // containing term") — not from a second explode+distinct over the
    // corpus. Both consumers share tf's shuffle via exchange reuse, so
    // the corpus is exploded and aggregated once.
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N rides INSIDE the plan as a 1-row aggregate attached by broadcast —
    // not a driver-side docs.count(), which was a second full corpus job.
    // count(1) needs zero columns, so this subplan's scan is parquet
    // row-group metadata only — not a data pass even at 100 TB. The 1-row
    // broadcast nested loop is whitelisted in PlanAuditSpec.
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** BM25 ranking of the corpus against a fixed query-term set — the
    * keyword half of a hybrid retrieval stack (the vector half is
    * [[graft.sim.Embeddings]]; the fusion is
    * [[graft.sim.HybridSearch]]). Okapi BM25 with the standard
    * k1/b parameterization:
    *
    *   idf(t)  = ln(1 + ((N - df_t) + 0.5) / (df_t + 0.5))
    *   s(d, t) = idf(t) · (tf · (k1+1)) / (tf + k1·((1-b) + b·dl/avgdl))
    *
    * Shape at 100 TB: the corpus is tokenized and exploded ONCE and
    * immediately filtered to the (tiny, literal) query-term set, so only
    * query-matched (doc, term) rows ever reach a shuffle — this is the
    * inverted-index probe expressed relationally. df-per-term derives
    * from the tf aggregation (query-set-sized → broadcast back), and the
    * corpus stats (N, Σdl) ride the plan as a 1-row broadcast aggregate
    * (whitelisted BNLJ, see topTfidfTerm) — never separate driver jobs.
    * Integer token counts keep everything exact until the one float
    * expression, whose association mirrors the oracle SQL exactly. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String],
               k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val dl = tokenized(docs).select(col("doc_id"), size(col("toks")).as("dl"),
      col("toks"))
    // integer sums → avgdl is bit-identical regardless of partial-agg order
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("sum_dl"))
    val tf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score",
        col("idf") * ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) *
            (col("dl") / (col("sum_dl") / col("n_docs")))))))
      .groupBy("doc_id")
      .agg(round(sum("score"), 6).as("bm25"), count(lit(1)).as("n_terms"))
      // order on the ROUNDED score so the top-k boundary is pinned
      // identically in both engines; doc_id breaks 6-decimal ties
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Unigram log-probability scoring — the cheap perplexity proxy: score
    * each document by the average log2 probability of its tokens under
    * the corpus's own unigram distribution. Gibberish and vocabulary
    * outliers score far below fluent text; it's the poor man's LM quality
    * filter and the standard first pass before a real LM scores the
    * survivors. Shape: vocabulary-sized frequency table (broadcast) joined
    * to the exploded corpus; a document's tokens stay in one partition
    * (explode preserves partitioning), so the per-doc average accumulates
    * in a fixed order — deterministic to the last bit. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = tokenized(docs).select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // the corpus total rides the plan as a 1-row broadcast aggregate
    // (whitelisted 1-row BNLJ, see topTfidfTerm) instead of a driver
    // first() — which cost a whole extra explode+aggregate job over the
    // corpus; tf's exchange is shared between the total and the join
    val total = tf.agg(sum("cnt").cast("double").as("corpus_total"))
    // vocabulary grows sublinearly with corpus but is unbounded — size-gate
    // the frequency-table broadcast instead of pinning it
    toks.join(graft.ops.AutoBroadcast.sizeGate(tf), "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(2.0, col("cnt") / col("corpus_total"))), 6).as("avg_log2p"))
  }

  /** Top term-pair association by PMI over document co-occurrence:
    * pmi(a,b) = ln(df_ab · N / (df_a · df_b)) with all df counts at
    * document grain. Restricting to a mid-frequency band keeps the
    * per-document pair fan-out bounded (the top of the vocabulary
    * co-occurs with everything and tells you nothing) — the standard
    * guard that keeps the pair explosion polynomial in band size, not
    * vocabulary size. All counts are integers, so only the final ln is
    * floating point — engine-portable. */
  def pmiPairs(docs: DataFrame, minDf: Int = 10, maxDf: Int = 400,
               minPairDf: Int = 5, topK: Int = 20): DataFrame = {
    // N folded into the plan as a metadata-only 1-row aggregate (see
    // topTfidfTerm) — no separate driver count() job over the corpus.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val docTerms = tokenized(docs)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
    val dfCounts = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    val banded = docTerms.join(dfCounts, "term")
    val a = banded.select(col("doc_id"), col("term").as("term_a"), col("df").as("df_a"))
    val b = banded.select(col("doc_id"), col("term").as("term_b"), col("df").as("df_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("term_a") < col("term_b"))
      .groupBy("term_a", "term_b", "df_a", "df_b")
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minPairDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi", round(
        log(col("df_ab").cast("double") * col("n_docs") /
          (col("df_a").cast("double") * col("df_b"))), 6))
      .drop("n_docs")
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(topK)
  }

  /** Interpolated bigram language-model scoring — one rung above
    * [[unigramLogProb]] on the LM-quality ladder: each transition scores
    * λ·P(cur|prev) + (1−λ)·P(cur), so unseen-in-context words fall back
    * to their corpus frequency instead of zero (Jelinek-Mercer smoothing,
    * and every observed bigram has cnt ≥ 1 so the log never sees 0).
    * Repetitive boilerplate scores suspiciously HIGH, gibberish scores
    * low — the two-sided quality signal. Shape: the bigram table is
    * (prev,cur)-keyed and shuffles like any aggregation; the corpus total
    * rides the plan as a 1-row broadcast aggregate; probabilities are
    * ratios of exact integer counts, so only the final log2/avg is
    * floating point. */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.75): DataFrame = {
    val t = tokenized(docs)
    val bg = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("prev"),
            element_at(col("toks"), i + 2).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val uni = t.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    // corpus total folded into the plan (1-row broadcast agg; uni's
    // exchange reused) — no separate driver job, see unigramLogProb
    val total = uni.agg(sum("cnt").cast("double").as("corpus_total"))
    val bgCnt = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cnt_b"))
    bg.join(bgCnt, Seq("prev", "cur"))
      .join(uni.select(col("term").as("prev"), col("cnt").as("cnt_prev")), "prev")
      .join(uni.select(col("term").as("cur"), col("cnt").as("cnt_cur")), "cur")
      .crossJoin(broadcast(total))
      .withColumn("p",
        lit(lambda) * col("cnt_b") / col("cnt_prev") +
          lit(1.0 - lambda) * col("cnt_cur") / col("corpus_total"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(2.0, col("p"))), 6).as("avg_log2p"))
  }

  /** CCNet-style perplexity bucketing: split each language's documents
    * into head/middle/tail by LM score ([[unigramLogProb]] here; a real
    * build swaps in a KenLM-grade scorer with the same shape). The
    * scale-right formulation computes per-language TERTILE CUTOFFS and
    * broadcasts them back — NOT a per-document ntile, whose window would
    * sort each language's whole corpus in one partition. Cutoffs come
    * off a per-language distinct-score table (the [[graft.text.Classifier.auc]]
    * stance: the window is value-table-sized, documented bound); boundary
    * ties take the better bucket, deterministically in any engine. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val scored = unigramLogProb(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_log2p"))
    val vals = scored.groupBy("lang", "avg_log2p").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy(col("avg_log2p").desc)
    val cum = vals.withColumn("cumc", sum("c").over(w))
    val n = vals.groupBy("lang").agg(sum("c").as("n"))
    val cuts = cum.join(n, "lang")
      .groupBy("lang")
      .agg(
        max(when(col("cumc") >= ceil(col("n") / lit(3.0)),
          col("avg_log2p"))).as("c_head"),
        max(when(col("cumc") >= ceil(col("n") * 2 / lit(3.0)),
          col("avg_log2p"))).as("c_mid"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("avg_log2p"),
        when(col("avg_log2p") >= col("c_head"), "head")
          .when(col("avg_log2p") >= col("c_mid"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Soft deduplication (the SoftDedup / D4 family): instead of DROPPING
    * near-duplicates, down-weight every member of a duplicate cluster by
    * 1/|cluster| so the cluster contributes one document's worth of
    * training mass in expectation. Composes the engine's scale-safe dedup
    * path end to end — banded-LSH candidates → Jaccard confirm →
    * connected components ([[dedupClusters]]) — then attaches cluster
    * sizes back to EVERY document (singletons get weight 1). eff_tokens
    * is the per-doc token mass after weighting, i.e. what a sampler would
    * actually draw.
    *
    * Shape: the cluster table is a small fraction of the corpus (only
    * docs in some near-dup pair); its size aggregation is tiny; the two
    * attach joins are doc_id / canonical_id equi-joins. Nothing here adds
    * a super-linear step beyond the LSH path itself. */
  def softDedupWeights(docs: DataFrame): DataFrame = {
    val clusters = dedupClusters(
      lshCandidatePairs(docs).filter(col("jaccard") >= 0.5))
    val sizes = clusters.groupBy("canonical_id")
      .agg(count(lit(1)).as("csize"))
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(clusters, Seq("doc_id"), "left")
      .join(sizes, Seq("canonical_id"), "left")
      .withColumn("cluster_size", coalesce(col("csize"), lit(1L)))
      .select(col("doc_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"),
        col("n_tokens"),
        round(col("n_tokens").cast("double") / col("cluster_size"), 6)
          .as("eff_tokens"))
  }

  /** Curriculum ordering: a global training order easy→hard with
    * deterministic intra-stage shuffling — head-bucket (most probable
    * under the corpus LM, see [[perplexityBuckets]]) documents first,
    * tail last, salted-hash order inside each stage so no source/length
    * clumping survives.
    *
    * The interesting part is the GLOBAL ordinal without a global
    * single-partition window: rank inside (stage, salt-shard) — a
    * well-distributed window — then add broadcast per-shard offsets
    * (cumulative counts over the |stages|×|shards| table, ~192 rows).
    * Because the shard is derived from the same salted hash that orders
    * within the shard, concatenating shards in (stage, salt) order IS the
    * total order (stage, salt, key, doc_id) — mathematically identical to
    * a sequential ROW_NUMBER, which is exactly what the oracle runs. This
    * is the same block-sums discipline as [[packSequences]]: at 100 TB
    * the corpus-side window has stages×shards partitions, never 1. */
  def curriculumOrder(docs: DataFrame, shards: Int = 64): DataFrame = {
    // r13 (guide §1.2): `staged` feeds BOTH the shard-rank window and the
    // shard-count aggregate, and its perplexity scoring pass is the
    // operator's dominant cost — profiled as two ~7-task-second stages
    // at sf0.1 (the duplicated-subtree pattern). One serialized eager
    // cut; both consumers read the stored blocks. Output identical.
    val staged = graft.ops.Checkpoints.ser(perplexityBuckets(docs)
      .withColumn("stage",
        when(col("ppl_bucket") === "head", 0)
          .when(col("ppl_bucket") === "middle", 1).otherwise(2))
      .withColumn("skey", md5Long(concat(lit("curr:"), col("doc_id"))))
      .withColumn("salt", (col("skey") % shards).cast("int")))
    val wShard = Window.partitionBy("stage", "salt")
      .orderBy(col("skey"), col("doc_id"))
    val ranked = staged.withColumn("shard_rank", row_number().over(wShard))
    val counts = staged.groupBy("stage", "salt").agg(count(lit(1)).as("cnt"))
    // cumulative offsets over the tiny shard table only — the corpus
    // never passes through this single-partition window
    val wOff = Window.orderBy("stage", "salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select("stage", "salt", "off")
    ranked.join(broadcast(offsets), Seq("stage", "salt"))
      .select(col("doc_id"), col("lang"), col("ppl_bucket"), col("stage"),
        (col("off") + col("shard_rank")).as("ord_idx"))
  }

  /** Canonical signature for edit-distance matching: the document's
    * DISTINCT tokens, sorted, joined, truncated. Word-order edits and
    * repetition vanish, so near-duplicates that token-shuffle (the common
    * template/paraphrase case) sit a few character edits apart even when
    * their raw prefixes diverge completely. Truncation caps the O(len²)
    * Levenshtein DP cell count per pair. */
  def fuzzySignature(text: Column, maxLen: Int = 160): Column =
    substring(array_join(array_sort(array_distinct(tokens(text))), " "), 1, maxLen)

  /** Blocked fuzzy matching by edit distance — the third dedup geometry
    * after set-overlap (Jaccard/[[nearDupPairs]]) and bit-distance
    * (SimHash): Levenshtein over [[fuzzySignature]], blocked by source so
    * the quadratic comparison runs within blocks only (Σ|block|², never
    * N²; at 100 TB the block key would be source × a signature prefix).
    * similarity = 1 − lev/max(len) — 1.0 is an exact signature match. */
  def fuzzyMatches(docs: DataFrame, simThreshold: Double = 0.95,
                   sigLen: Int = 160): DataFrame =
    levenshteinPairs(docs.select(col("doc_id"), col("source"),
      fuzzySignature(col("text"), sigLen).as("sig")), Seq("source"),
      simThreshold, sigLen)

  /** The one body of [[fuzzyMatches]] and [[fuzzyMatchesPrefixBlocked]]:
    * Levenshtein pairs over `(doc_id, sig)` within `keys` blocks. */
  private def levenshteinPairs(sigs: DataFrame, keys: Seq[String],
                               simThreshold: Double, sigLen: Int): DataFrame = {
    // sim ≥ t ⟹ lev ≤ (1−t)·max(len) ≤ (1−t)·sigLen, so the banded
    // (thresholded) Levenshtein is exact for every surviving pair and
    // O(band·len) instead of O(len²) for the overwhelming reject majority
    // (it returns −1 beyond the band, which the filter drops).
    val band = math.max(1, math.floor((1.0 - simThreshold) * sigLen).toInt)
    BlockedPairs(sigs, "doc_id", keys, Seq("sig"),
      scores = Seq(
        "edit_distance" -> levenshtein(col("sig_a"), col("sig_b"), band),
        "similarity" -> (lit(1.0) - col("edit_distance").cast("double") /
          greatest(length(col("sig_a")), length(col("sig_b")), lit(1)))),
      keep = Some(col("edit_distance") >= 0 && col("similarity") >= simThreshold))
  }

  /** Blocked record linkage by Jaro-Winkler similarity — the FOURTH dedup
    * geometry, alignment-based (order-tolerant positional matching with a
    * shared-prefix boost), next to edit distance ([[fuzzyMatches]]),
    * set overlap ([[nearDupPairs]]), and bit distance (SimHash). JW is the
    * standard metric for short identifier-like strings (names, titles)
    * where transpositions are common and a shared prefix is strong
    * evidence; it has no Spark built-in, so this rides the native codegen'd
    * [[graft.functions.JaroWinkler]] Expression (bit-calibrated against
    * the DuckDB oracle's jaro_winkler_similarity).
    *
    * Blocking is [[fuzzyMatchesPrefixBlocked]]'s scale shape: (source,
    * signature 8-prefix) — pair work is Σ|block|², and because the
    * signature is sorted distinct tokens, near-duplicates agree on the
    * prefix with high probability, so recall loss is the same documented
    * trade as the Levenshtein sibling. Threshold compares the ROUNDED
    * value so the keep decision is identical in any engine. */
  def jaroWinklerMatches(docs: DataFrame, simThreshold: Double = 0.9,
                         sigLen: Int = 160, blockPrefix: Int = 8): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"),
      fuzzySignature(col("text"), sigLen).as("sig"))
      .withColumn("blk", substring(col("sig"), 1, blockPrefix))
    BlockedPairs(d, "doc_id", Seq("source", "blk"), Seq("sig"),
      scores = Seq("jw_similarity" ->
        call_function("jaro_winkler", col("sig_a"), col("sig_b"))),
      keep = Some(col("jw_similarity") >= simThreshold))
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo 1995) — the FIFTH
    * entity-resolution geometry: instead of hashing into blocks, SORT the
    * corpus by a signature and compare each record only to its `window`
    * nearest neighbors in sort order. Near-duplicates sort adjacently, so
    * pair work is exactly N·w regardless of how skewed any block key is —
    * SNM is the standard answer when blocking keys degenerate (one giant
    * block) or near-dups straddle block boundaries.
    *
    * Distributed construction, both halves exact:
    *  - the GLOBAL sort rank uses the [[curriculumOrder]] discipline with
    *    an order-compatible shard: shard = sig's first character is a
    *    PREFIX of the sort key, so (shard, sig, doc_id) ≡ (sig, doc_id)
    *    and ranks from per-shard windows + broadcast offsets equal the
    *    sequential ROW_NUMBER bit-for-bit (prefix length is the shard-
    *    count knob at scale);
    *  - the w-window pair join is rank-banded: band = rank / w, each left
    *    row probes (band, band+1) — a pair within distance w spans at
    *    most adjacent bands, so the equi-join is EXACT with ≤ 2w
    *    candidates per row (no boundary loss, unlike per-block SNM).
    * Confirmation scores the adjacent signatures with the native
    * [[graft.functions.JaroWinkler]]; both engines filter on the rounded
    * value. */
  def snmPairs(docs: DataFrame, window: Int = 10, simThreshold: Double = 0.95,
               sigLen: Int = 160): DataFrame =
    snmPairsOnSigs(docs.select(col("doc_id"),
      fuzzySignature(col("text"), sigLen).as("sig")), window, simThreshold)

  /** [[snmPairs]] over a pre-computed `(doc_id, sig)` frame — the shared
    * entry [[dedupAgreement]] uses so its fuzzy and SNM legs pay the
    * signature scan ONCE (r12, guide §1.2: both legs score the identical
    * [[fuzzySignature]]). Behavior identical to [[snmPairs]]. */
  private[text] def snmPairsOnSigs(sigs: DataFrame, window: Int = 10,
                                   simThreshold: Double = 0.95): DataFrame = {
    val d = sigs.select(col("doc_id"), col("sig"))
      .withColumn("shard", substring(col("sig"), 1, 1))
    val wSh = Window.partitionBy("shard").orderBy(col("sig"), col("doc_id"))
    val ranked = d.withColumn("srank", row_number().over(wSh))
    val counts = d.groupBy("shard").agg(count(lit(1)).as("cnt"))
    val wOff = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select("shard", "off")
    val r = ranked.join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("sig"), (col("off") + col("srank")).as("rnk"))
      .localCheckpoint() // the sort+rank feeds both join sides once
    val a = r.select(col("doc_id").as("doc_id_a"), col("sig").as("sig_a"),
        col("rnk").as("ra"))
      .withColumn("probe", explode(array(
        (col("ra") / lit(window)).cast("long"),
        (col("ra") / lit(window)).cast("long") + 1)))
    val b = r.select(col("doc_id").as("doc_id_b"), col("sig").as("sig_b"),
        col("rnk").as("rb"))
      .withColumn("band", (col("rb") / lit(window)).cast("long"))
    a.join(b, col("probe") === col("band"))
      .filter((col("rb") - col("ra")).between(1, window))
      .withColumn("jw_similarity", BlockedPairs.round6(
        call_function("jaro_winkler", col("sig_a"), col("sig_b"))))
      .filter(col("jw_similarity") >= simThreshold)
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("rb") - col("ra")).as("rank_gap"), col("jw_similarity"))
  }

  /** Cross-geometry dedup agreement report — the observability artifact
    * a curation team actually reviews before picking thresholds: pair
    * counts per geometry (edit-distance [[fuzzyMatches]], banded-LSH
    * Jaccard, sorted-neighborhood JW) and the pairwise intersections
    * between them. Where the set-overlap and alignment geometries agree
    * is the high-confidence core; where they disagree is precisely the
    * gray zone the thresholds are negotiating. One long-form row per
    * metric, all counts from id-pair equi-joins on the three (bounded)
    * pair sets, each pair pipeline materialized once. */
  def dedupAgreement(docs: DataFrame): DataFrame = {
    // the SCALE-PATH fuzzy variant: the report composes three whole pair
    // pipelines, so each leg must be its scalable form (the exhaustive
    // source-blocked fuzzy is 45.7x at 10x data; the prefix-blocked one
    // is 7.8x — measured in BENCH_SF1)
    //
    // r12 (profiled: 4.6 s wall over 34 jobs, scheduling-dominated —
    // most jobs ≤0.2 s wall): (a) the fuzzy and SNM legs score the SAME
    // fuzzySignature, so ONE signature scan (eager checkpoint) feeds
    // both instead of two corpus passes (guide §1.2 — the fuzzy leg's
    // checkpoint alone carried 13.6 s of task time, most of it the
    // signature pass); (b) the three pair legs checkpoint LAZILY — at
    // most one STORED execution per leg (first materialization persists;
    // concurrent first-touch under the union action may recompute a
    // partition before its block lands — results identical, the legs
    // are deterministic), and the materialization rides the final union
    // action instead of three eager driver-blocking jobs. Pair sets,
    // counts, and intersections are unchanged.
    // r13: the corpus-sized sigs cut stores SERIALIZED (guide §5 —
    // bounded blocks; see graft.ops.Checkpoints).
    val sigs = graft.ops.Checkpoints.ser(docs.select(col("doc_id"),
      col("source"), fuzzySignature(col("text"), 160).as("sig")))
    val fuzzy = fuzzyMatchesPrefixBlockedOnSigs(sigs)
      .select("doc_id_a", "doc_id_b").localCheckpoint(false)
    val lsh = lshCandidatePairs(docs).filter(col("jaccard") >= 0.5)
      .select("doc_id_a", "doc_id_b").localCheckpoint(false)
    val snm = snmPairsOnSigs(sigs.select("doc_id", "sig"))
      .select("doc_id_a", "doc_id_b").localCheckpoint(false)
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_pairs"))
        .select(lit(name).as("metric"), col("n_pairs"))
    def inter(name: String, x: DataFrame, y: DataFrame): DataFrame =
      cnt(name, x.join(y, Seq("doc_id_a", "doc_id_b")))
    Seq(cnt("fuzzy", fuzzy), inter("fuzzy_and_lsh", fuzzy, lsh),
      inter("fuzzy_and_snm", fuzzy, snm), cnt("lsh", lsh),
      inter("lsh_and_snm", lsh, snm), cnt("snm", snm))
      .reduce(_ unionByName _)
  }

  /** End-to-end entity resolution to a GOLDEN RECORD: [[snmPairs]]
    * match pairs → [[dedupClusters]] connected components → one merged
    * canonical row per entity. The merge policy is the standard
    * survivorship rule set: representative = the longest member (ties to
    * the smallest doc_id, picked by a per-cluster windowed argmax —
    * deterministic in any engine), provenance = member count + smallest
    * id, bulk = total characters. Docs matching nothing survive as
    * singleton entities of themselves — resolution NEVER drops records,
    * it only groups them.
    *
    * Shape: the only super-linear stage is the SNM pair search (N·w);
    * clustering is the capped union-find / pointer-doubling tier;
    * survivorship is one aggregate + one windowed argmax, both keyed by
    * canonical_id. */
  def goldenRecords(docs: DataFrame): DataFrame = {
    val clusters = dedupClusters(
      snmPairs(docs).select(col("doc_id_a"), col("doc_id_b")))
    val m = docs.select(col("doc_id"), col("n_chars"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("doc_id")))
    val wRep = Window.partitionBy("canonical_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val rep = m.withColumn("rk", row_number().over(wRep))
      .filter(col("rk") === 1)
      .select(col("canonical_id"), col("doc_id").as("rep_doc_id"),
        col("n_chars").as("rep_chars"))
    m.groupBy("canonical_id")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("min_doc_id"),
        sum("n_chars").as("total_chars"))
      .join(rep, "canonical_id")
      .select("canonical_id", "n_members", "min_doc_id",
        "rep_doc_id", "rep_chars", "total_chars")
  }

  /** The scale path for fuzzy matching, promoted from fuzzyMatches' doc
    * note by the sf1 spot-bench (which measured source-only blocking at
    * ~47× cost for 10× data — Σ|block|² with fixed block cardinality):
    * block by (source, signature PREFIX), so block count scales with the
    * data and per-block pair work stays bounded. Prefix blocking is the
    * standard recall trade: a true near-dup pair whose signatures diverge
    * inside the first `prefixLen` chars is missed (sorted-token
    * signatures put template/paraphrase duplicates in the same prefix
    * block in practice); pairs found are identical in scoring to
    * [[fuzzyMatches]]. Exact-recall alternatives (PassJoin-style
    * chunk signatures) trade this one join for band+1 of them. */
  def fuzzyMatchesPrefixBlocked(docs: DataFrame, simThreshold: Double = 0.95,
                                sigLen: Int = 160, prefixLen: Int = 8): DataFrame =
    fuzzyMatchesPrefixBlockedOnSigs(docs.select(col("doc_id"), col("source"),
      fuzzySignature(col("text"), sigLen).as("sig")),
      simThreshold, sigLen, prefixLen)

  /** [[fuzzyMatchesPrefixBlocked]] over a pre-computed
    * `(doc_id, source, sig)` frame — see [[snmPairsOnSigs]]. */
  private[text] def fuzzyMatchesPrefixBlockedOnSigs(
      sigs: DataFrame, simThreshold: Double = 0.95,
      sigLen: Int = 160, prefixLen: Int = 8): DataFrame =
    levenshteinPairs(
      sigs.withColumn("blk", substring(col("sig"), 1, prefixLen)),
      Seq("source", "blk"), simThreshold, sigLen)

  /** Exact substring-duplication signal: for every k-token span (ALL
    * positions, not the distinct shingle set), does the identical span
    * occur in any OTHER document? Long verbatim overlap is what
    * paragraph-level boilerplate and cross-document copying look like —
    * and it survives the document-level dedups, which only compare whole
    * documents. Per doc: total spans, spans shared with ≥1 other doc, and
    * the shared fraction (the "fraction of text duplicated elsewhere"
    * curation metric). Shape: spans hash to 60-bit longs BEFORE the
    * shuffle (the exchange carries 8 bytes per span, never span text);
    * one count-distinct aggregation finds the shared hashes; a second
    * aggregation folds the left join back to per-doc counts. */
  def substringDupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val t = tokenized(docs).filter(size(col("toks")) >= k)
    val spans = t.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(col("toks")) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("toks"), i + lit(j + 1))): _*)))
        .as("span"))
      .select(col("doc_id"), md5Long(col("span")).as("h"))
    val shared = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2)
    spans.join(shared, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs").isNotNull, 1).otherwise(0)).as("n_shared_spans"))
      .withColumn("share_ratio",
        round(col("n_shared_spans") / col("n_spans").cast("double"), 6))
  }

  /** Exact-substring dedup REMOVAL — the rewrite ExactSubstr dedup (Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better") actually ships, where [[substringDupSpans]] only measures:
    * each duplicated k-token span's CANONICAL occurrence (the
    * (doc_id, pos)-minimal one) is exempt from ITS OWN removal and every
    * other occurrence's tokens are removed, then each document's text is
    * rebuilt from its surviving tokens. Note the exemption is per-span,
    * not a survival guarantee: a DIFFERENT duplicated span's removal
    * interval can overlap (and clip) a canonical occurrence — the same
    * property as reference ExactSubstr implementations, which cut each
    * duplicated byte range independently.
    *
    * Shape: all-position spans hash to 60-bit longs BEFORE the shuffle
    * (the exchange carries 8 bytes per span, never span text); ONE
    * window over the span hash ranks occurrences ((doc_id, pos) order),
    * rank > 1 marks removal; removal starts fold back to per-doc sorted
    * arrays; reconstruction is a row-local interval-merge fold over the
    * doc's removal starts (cursor sweep: O(|removals| + |kept|) per doc,
    * no token-grain join, no second corpus shuffle). Overlapping removal
    * spans merge in the sweep, so a token is dropped once no matter how
    * many duplicated spans cover it.
    *
    * At 100 TB: span volume is ~token volume — the window shuffle is the
    * corpus's one heavy exchange (hash-keyed, combinable by partition);
    * everything after it is |removals|-sized plus a row-local rebuild.
    * Output per doc: token count, removed-token count, rewritten text. */
  def substringDedup(docs: DataFrame, k: Int = 8): DataFrame = {
    val t = tokenized(docs)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val spans = spanOccurrences(t, k)
    // occurrence rank within each identical span: rank 1 = the canonical
    // (doc_id, pos)-minimal occurrence, every later rank is removed
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id", "pos")
    val removed = spans.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id", "pos")
    rebuildFromRemovals(t, removed, k)
  }

  /** All k-token span occurrences of a tokenized frame `t`
    * (doc_id, toks, n), hashed to 60-bit longs PRE-shuffle:
    * (doc_id, pos, h). The shared head of [[substringDedup]] and
    * [[deltaSubstringDedup]]. */
  private def spanOccurrences(t: DataFrame, k: Int): DataFrame =
    t.filter(col("n") >= k).select(col("doc_id"),
      explode(transform(sequence(lit(0), col("n") - k),
        i => struct(i.as("pos"), md5Long(concat_ws(" ",
          (0 until k).map(j => element_at(col("toks"), i + lit(j + 1))): _*))
          .as("h")))).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.h").as("h"))

  /** Rebuild each document's text from `t` (doc_id, toks, n) with every
    * k-token interval starting at a `removed` (doc_id, pos) cut out —
    * the row-local interval-merge cursor sweep [[substringDedup]]'s
    * scaladoc describes, factored so the delta form shares it verbatim.
    * Output: (doc_id, n_tokens, n_removed, dedup_text). */
  private def rebuildFromRemovals(t: DataFrame, removed: DataFrame,
                                  k: Int): DataFrame = {
    val removals = removed
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("pos"))).as("starts"))
    val withStarts = t.join(removals, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
    // row-local interval merge: sweep the sorted removal starts with a
    // cursor, emitting the kept [cursor, start) gaps; each removal
    // advances the cursor to max(cursor, start + k)
    val emptyRanges = array().cast("array<struct<s:int,e:int>>")
    val ranges = aggregate(
      col("starts"),
      struct(lit(0).as("cur"), emptyRanges.as("kept")),
      (acc, s) => struct(
        greatest(acc.getField("cur"), s + k).as("cur"),
        when(s > acc.getField("cur"),
          concat(acc.getField("kept"),
            array(struct(acc.getField("cur").as("s"), s.as("e")))))
          .otherwise(acc.getField("kept")).as("kept")),
      acc => concat(acc.getField("kept"),
        array(struct(acc.getField("cur").as("s"), col("n").as("e")))))
    withStarts
      .withColumn("kept_toks", flatten(transform(ranges,
        r => slice(col("toks"), r.getField("s") + 1,
          greatest(r.getField("e") - r.getField("s"), lit(0))))))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        (col("n") - size(col("kept_toks"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept_toks")).as("dedup_text"))
  }

  /** The accumulated span-hash STORE for the delta form: the distinct
    * k-token span hashes of a corpus, one 8-byte long per distinct
    * span. Persist it partitioned/bucketed by `h` at scale; append each
    * admitted batch's [[spanHashStore]] and re-distinct on compaction
    * cadence — the probe side reads matching buckets only. */
  def spanHashStore(docs: DataFrame, k: Int = 8): DataFrame = {
    val t = tokenized(docs)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    spanOccurrences(t, k).select("h").distinct()
  }

  /** Delta ExactSubstr for nightly ingest (r7 — VERDICT r6 ask #6; the
    * [[deltaNearDupPairs]] posture applied to the rewrite dedup): dedup
    * only the NEW batch's spans, against the accumulated [[spanHashStore]]
    * plus the batch itself. A new occurrence is removed when its hash
    * exists in the store (some accumulated occurrence precedes every new
    * one) OR an earlier (doc_id, pos) occurrence exists within the batch.
    *
    * EXACT equivalence to the full recompute (spec-pinned): when every
    * accumulated doc_id precedes every new doc_id,
    * `substringDedup(old ∪ new)` restricted to new docs ≡
    * `deltaSubstringDedup(new, spanHashStore(old))`, and restricted to
    * old docs ≡ `substringDedup(old)` — the full window's rank-1
    * canonical for a hash shared with the store is always an OLD
    * occurrence, and old docs never lose a canonical to a newer id. So
    * the nightly loop never rewrites history and never re-shuffles the
    * accumulated corpus: per night the window runs over the BATCH's
    * spans only, and the store probe is an equi join of batch-sized span
    * hashes against the bucketed store (NEW×OLD cost, the delta
    * contract). */
  def deltaSubstringDedup(newDocs: DataFrame, store: DataFrame,
                          k: Int = 8): DataFrame = {
    val t = tokenized(newDocs)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val spans = spanOccurrences(t, k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id", "pos")
    val removed = spans
      .join(store.select(col("h"), lit(1).as("in_store")), Seq("h"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("in_store").isNotNull || col("rn") > 1)
      .select("doc_id", "pos")
    rebuildFromRemovals(t, removed, k)
  }

  /** Line-grain cross-document boilerplate removal — the CCNet posture
    * (Wenzek et al. 2020: dedup at PARAGRAPH/line grain across the
    * corpus before any document-level work): a line whose hash appears
    * in MORE than `maxDocs` distinct documents is boilerplate (headers,
    * nav bars, license blurbs, cookie banners) and is dropped from every
    * document; each document's text is rebuilt from its surviving lines
    * in position order. This catches what row-local [[c4Rules]] cannot —
    * a line is only recognizably boilerplate corpus-wide — and what
    * document-grain dedup cannot — the documents CONTAINING the
    * boilerplate are not duplicates of each other.
    *
    * Shape: lines hash to 60-bit longs before the one grouping shuffle;
    * the heavy-hash set (true boilerplate) is tiny relative to the
    * corpus, so the removal join back is a size-gated broadcast
    * anti-join — at 100 TB the corpus text never shuffles, only line
    * hashes do. Reconstruction is a per-doc sorted collect (bounded by
    * document size). */
  def lineDedup(docs: DataFrame, maxDocs: Int = 3): DataFrame =
    lineRemove(docs,
      lineHashCounts(docs).filter(col("n_docs") > maxDocs).select("h"))

  /** Per-line-hash distinct document counts over `docs` — the line-grain
    * document-frequency table [[lineDedup]] and [[CurationPipeline]]
    * threshold. Output: (h, n_docs). */
  def lineHashCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(col("text"), "\n")).as("line"))
      .withColumn("h", md5Long(col("line")))
      .groupBy("h").agg(countDistinct("doc_id").as("n_docs"))

  /** The full stage-1.5 application of [[CurationPipeline]]: rewrite
    * `docs` with `heavy` lines removed, DROP documents whose every line
    * was boilerplate (an empty rewrite must not ride past gates that
    * never saw the empty text), and recompute `n_chars` from the
    * rewritten text when the schema carries it (derived columns must not
    * mix pre-rewrite stats with post-rewrite text). Returns `docs`'
    * columns plus `n_removed`. */
  def applyLineRemoval(docs: DataFrame, heavy: DataFrame): DataFrame = {
    val ld = lineRemove(docs, heavy)
    val rejoined = docs.drop("text")
      .join(ld.filter(col("n_lines") > col("n_removed"))
        .select(col("doc_id"), col("n_removed"),
          col("dedup_text").as("text")), "doc_id")
    val out =
      if (docs.columns.contains("n_chars"))
        rejoined.withColumn("n_chars",
          length(col("text")).cast(docs.schema("n_chars").dataType))
      else rejoined
    out.select(docs.columns.map(col) :+ col("n_removed"): _*)
  }

  /** Rebuild every document with the lines in `heavy` (a frame with a
    * 60-bit `h` column — the boilerplate set, however derived) removed;
    * surviving lines keep position order. The removal join is the
    * size-gated broadcast anti-join [[lineDedup]]'s scaladoc describes:
    * corpus text never shuffles, only line hashes do. */
  def lineRemove(docs: DataFrame, heavy: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      split(col("text"), "\n").as("lns"))
    val lines = base.select(col("doc_id"),
      posexplode(col("lns")).as(Seq("ln", "line")))
      .withColumn("h", md5Long(col("line")))
    val kept = lines.join(graft.ops.AutoBroadcast.sizeGate(heavy),
        Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("ln"), col("line")))).as("ks"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws("\n", transform(col("ks"), k => k.getField("line")))
          .as("dedup_text"))
    base.select(col("doc_id"), size(col("lns")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Shannon entropy of each document's token distribution, in bits:
    * H = log2(n) − (Σ c·log2 c)/n over per-term counts c. Low entropy =
    * repetitive/boilerplate (near 0 for a one-token loop), high = diverse
    * vocabulary; with [[repetitionSignals]] it completes the repetition
    * detectors. Two hash aggregations, both map-side combinable; the
    * algebraic form avoids materializing per-term probabilities. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = tokenized(docs)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    tf.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("vocab"),
      round(
        log(2.0, sum("c").cast("double")) -
          sum(col("c").cast("double") * log(2.0, col("c"))) /
            sum("c").cast("double"), 6).as("entropy_bits"))
  }

  /** Deterministic hash-based stratified sampling: keep a row iff
    * md5(doc_id) mod 100 falls under its stratum's percentage. Unlike
    * rand()-based sampling this is reproducible across engines, runs, task
    * retries, and partitionings — the property that makes corpus sampling
    * auditable — and it needs no shuffle at all (pure per-row filter). */
  def hashSample(rates: Map[String, Int],
                 strataCol: String = "source"): Column = {
    val bucket = md5Long(concat(lit("sample:"), col("doc_id").cast("string"))) % 100
    rates.foldLeft(lit(false)) { case (acc, (stratum, pct)) =>
      acc || (col(strataCol) === stratum && bucket < pct)
    }
  }

  /** Per-stratum token-budget sampling: admit documents in deterministic
    * hash order until each stratum's cumulative token count reaches the
    * budget — how a mixture spec ("this source contributes ≤ B tokens")
    * is actually materialized, as opposed to row-percentage sampling
    * ([[hashSample]]) which can't hit a token target when doc lengths
    * vary. Hash order (salted, like every sampling decision here) makes
    * the admitted set reproducible across engines, runs, retries, AND
    * stable under corpus append: new docs sort into the hash order
    * without reshuffling earlier admissions beyond the boundary. One
    * window per stratum — partitions are per-source, so the sort is
    * bounded by stratum size, not corpus size; integer token counts keep
    * the cumulative sum engine-exact. */
  def budgetSample(docs: DataFrame, budgetTokens: Long,
                   strataCol: String = "source"): DataFrame = {
    val t = tokenized(docs)
      .select(col("doc_id"), col(strataCol), size(col("toks")).as("n_tokens"),
        md5Long(concat(lit("budget:"), col("doc_id").cast("string"))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    t.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col(strataCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Deterministic train/validation/test assignment by hash range: the
    * split every dataset release needs, with the same auditability
    * properties as [[hashSample]] — reproducible across engines, runs,
    * retries, and partitionings, zero shuffle, and docs never migrate
    * between splits when the corpus grows (assignment depends only on the
    * doc's own id). Salt the hash domain ("split:") so sampling and
    * splitting decisions stay independent. `id` defaults to `doc_id`;
    * the vector pipeline passes `vec_id` (same salt, same buckets). */
  def assignSplit(trainPct: Int = 90, valPct: Int = 5,
                  id: Column = col("doc_id")): Column = {
    require(trainPct + valPct < 100, "need room for a test split")
    val bucket = md5Long(concat(lit("split:"), id.cast("string"))) % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Held-out LM evaluation — [[unigramLogProb]] under the train/val
    * discipline [[assignSplit]] provides: the unigram distribution is
    * estimated from the TRAIN split only and scores the VAL split, so the
    * metric measures generalization, not memorization (scoring the
    * training distribution on itself — what td_unigram_logprob
    * demonstrates — inflates log-probs exactly like eval contamination
    * does). Out-of-vocabulary terms get `oovMass` pseudo-count smoothing
    * and are counted per doc: rising n_oov is the drift/contamination
    * signal between corpus versions.
    *
    * Scale shape: identical to unigramLogProb — the train vocabulary is
    * a vocabulary-sized aggregate (size-gated broadcast in the join);
    * the corpus-total rides as a 1-row aggregate; the val side is one
    * scan. */
  def lmHoldout(docs: DataFrame, oovMass: Double = 0.5): DataFrame = {
    val sp = docs.withColumn("split", assignSplit())
    val trainToks = tokenized(sp.filter(col("split") === "train"))
      .select(explode(col("toks")).as("term"))
    val vocab = trainToks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = trainToks.agg(count(lit(1)).cast("double").as("corpus_tokens"))
    tokenized(sp.filter(col("split") === "val"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .join(graft.ops.AutoBroadcast.sizeGate(vocab), Seq("term"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp", log2(coalesce(col("cnt").cast("double"), lit(oovMass))
        / col("corpus_tokens")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt").isNull.cast("long")).as("n_oov"),
        round(avg("lp"), 6).as("avg_log2p"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, simplified to one
    * round with the unigram proxy LM): sources whose held-out loss
    * exceeds the global mean are UP-weighted — train where the model is
    * worst — via weight ∝ token_share · exp(η · excess_loss), normalized.
    * Completes the data-mixing family (temperature scaling reweights by
    * SIZE, DSIR by target-likeness, this by model DIFFICULTY).
    *
    * Determinism: per-source and global mean losses aggregate in exact
    * integer micro-units (the [[graft.sim.Embeddings.nnDescentRecall]] /
    * MMR lesson: any value feeding a cross-engine compare must be exact
    * integer arithmetic, not a float sum); the exp reweight runs on the
    * ROUNDED excess, and normalization sums exact nano-unit weights.
    * exp itself is the one library-function dependency — Math.exp and
    * the oracle engine's exp agree on these inputs (the same trust the
    * green Kaplan-Meier exp∘Σln oracle already rests on).
    *
    * Shape: per-doc scoring is [[lmHoldout]] (vocab-sized broadcast);
    * everything after is |sources|-sized with 1-row broadcast attaches. */
  def doremiWeights(docs: DataFrame, eta: Double = 1.0): DataFrame = {
    val scored = lmHoldout(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("lpm", round(col("avg_log2p") * 1000000.0, 0).cast("long"))
    val bySrc = scored.groupBy("source").agg(
      count(lit(1)).as("n_val_docs"), sum("lpm").as("lps"))
    val glob = broadcast(scored.agg(sum("lpm").as("gs"), count(lit(1)).as("gn")))
    val tokc = tokenized(docs)
      .select(col("source"), size(col("toks")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("st"))
    val tokt = broadcast(tokc.agg(sum("st").as("tt")))
    val pre = bySrc.join(tokc, "source").crossJoin(glob).crossJoin(tokt)
      .withColumn("mean_loss_raw",
        -(col("lps").cast("double") / 1000000.0) / col("n_val_docs"))
      .withColumn("excess", round(col("mean_loss_raw") -
        (-(col("gs").cast("double") / 1000000.0) / col("gn")), 6))
      .withColumn("wm", round((col("st").cast("double") / col("tt")) *
        exp(col("excess") * eta) * 1000000000.0, 0).cast("long"))
      .localCheckpoint() // |sources| rows; feeds the normalizer twice
    val wTot = broadcast(pre.agg(sum("wm").as("wt")))
    pre.crossJoin(wTot)
      .select(col("source"), col("n_val_docs"),
        round(col("mean_loss_raw"), 6).as("mean_loss"),
        col("excess"),
        round(col("wm").cast("double") / col("wt"), 6).as("weight"))
  }

  /** `gram_runs(toks, n)`: the sorted-run fold over the row's token
    * n-grams WITH multiplicity (unlike [[shingles]], which dedups) —
    * `max_count`, `top_chars`, `dup_chars`; null for a null array. One
    * codegen'd pass per row, so repetition scoring stays a narrow map
    * over the corpus at any scale. */
  private def gramRuns(toks: Column, n: Int): Column =
    call_function("gram_runs", toks, lit(n))

  /** The FULL Gopher repetition battery (Rae et al. 2021 App. A.1.1,
    * "repetitious text" rules, applied verbatim): per document, the
    * fraction of CHARACTERS covered by
    *  - the most frequent n-gram, for n ∈ {2, 3, 4} (thresholds 0.20 /
    *    0.18 / 0.16), and
    *  - all DUPLICATED n-grams (count ≥ 2, each occurrence's characters
    *    counted), for n ∈ {5..10} (thresholds 0.15 / 0.14 / 0.13 /
    *    0.12 / 0.11 / 0.10),
    * plus `pass_gopher_rep` = all nine rules. Grams are contiguous
    * token n-grams joined by single spaces; their character length
    * includes the joining spaces; the denominator is the document's
    * `n_chars`. Ties for "most frequent" break to the lexicographically
    * smallest gram — deterministic in any engine.
    *
    * Scale shape: each of the nine signals is ONE row-local call of the
    * native `gram_runs` kernel ([[graft.functions.GramRuns]]), which
    * builds and sorts the doc's grams and folds their runs in one pass,
    * inside whole-stage codegen (a null text folds to 0) —
    * no explode, no shuffle, scan-speed at 100 TB.
    * The oracle computes the identical integers via per-(doc, gram) SQL
    * aggregation; both reduce to the same counts, so the single final
    * division is engine-exact. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val tops = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dups = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    val withStats = (tops.map(_._1) ++ dups.map(_._1)).foldLeft(
      docs.select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))) {
      (df, n) => df.withColumn(s"_rs_$n", gramRuns(col("toks"), n))
    }
    val cols =
      tops.map { case (n, _) =>
        round(coalesce(col(s"_rs_$n").getField("top_chars"), lit(0L)).cast("double") /
          col("n_chars"), 6).as(s"top_${n}gram_char_frac")
      } ++ dups.map { case (n, _) =>
        round(coalesce(col(s"_rs_$n").getField("dup_chars"), lit(0L)).cast("double") /
          col("n_chars"), 6).as(s"dup_${n}gram_char_frac")
      }
    val pass = (tops.map { case (n, t) =>
      col(s"top_${n}gram_char_frac") <= t
    } ++ dups.map { case (n, t) =>
      col(s"dup_${n}gram_char_frac") <= t
    }).reduce(_ && _)
    withStats.select(col("doc_id") +: col("n_chars") +: cols: _*)
      .withColumn("pass_gopher_rep", pass.cast("int"))
  }

  /** Gopher-style repetition signals: fraction of distinct tokens, the
    * most-frequent token's share, the most-frequent bigram's share. High
    * top-fractions / low distinct-ratio mark boilerplate and degenerate
    * repetition that length and stopword filters miss. Pure per-row
    * column arithmetic — composes with [[qualityScores]] in one scan. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("nt", greatest(col("n_tokens"), lit(1)).cast("double"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(size(array_distinct(col("toks"))) / col("nt"), 6).as("distinct_ratio"),
        round(gramRuns(col("toks"), 1).getField("max_count") / col("nt"), 6)
          .as("top_token_fraction"),
        round(coalesce(gramRuns(col("toks"), 2).getField("max_count"), lit(0L)) /
          greatest(col("n_tokens") - 1, lit(1)).cast("double"), 6).as("top_bigram_fraction"))

  private val stopwords = Seq("the", "a", "and", "of", "to", "in")

  /** Quality scoring: token stats, stopword/punctuation ratios, and a
    * 3-tier quality bucket — the standard cheap pre-filters of a training-
    * data pipeline. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    docs
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"),
        col("text"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stopwords", expr(s"size(filter(toks, t -> t IN ($stopList)))"))
      .withColumn("n_punct", expr("size(filter(toks, t -> t RLIKE '^[^a-z0-9]+$'))"))
      .withColumn("avg_token_len",
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens").cast("double"), 6))
      .withColumn("stopword_ratio",
        round(col("n_stopwords").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("quality_bucket",
        when(col("n_tokens") >= 60 && col("stopword_ratio") < 0.2, "high")
          .when(col("n_tokens") >= 30, "medium")
          .otherwise("low"))
      .select("doc_id", "n_tokens", "n_stopwords", "n_punct",
        "avg_token_len", "stopword_ratio", "quality_bucket")
  }

  /** Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 App. A.1.1):
    * the named rule-set applied verbatim — word-count bounds, mean-word-
    * length bounds, symbol-to-word ratios (`#` and `...` each against
    * their own 0.1 threshold, per the paper's "either … or" phrasing),
    * bullet-start and ellipsis-end line fractions, alphabetic-word
    * fraction, and required-stopword presence. Distinct from
    * [[qualityScores]] (free-form signals + bucket): this is the
    * reproducible KEEP/DROP gate with each rule exposed so a pipeline can
    * audit which rule rejected a document.
    *
    * Every column is a per-row narrow expression over the text — no
    * shuffle, no UDF, fully codegen'd; at 100 TB this runs at scan speed
    * and is the cheapest stage of the curation funnel (see
    * CurationPipeline's cheap-first ordering). Ratios are rounded to 6dp
    * BEFORE the rule thresholds so boundary hits resolve identically in
    * any engine. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val reqList = GopherReqStopwords.map(s => s"'$s'").mkString(", ")
    // substring occurrence count via replace-shrink — literal, not regex
    def cnt(s: String): Column =
      (length(col("text")) - length(expr(s"replace(text, '$s', '')"))) / lit(s.length)
    docs
      .select(col("doc_id"), col("n_chars"), col("text"),
        tokens(col("text")).as("toks"), split(col("text"), "\n").as("lns"))
      .withColumn("n_words", size(col("toks")))
      .withColumn("nw", col("n_words").cast("double"))
      .withColumn("mean_word_len",
        round((col("n_chars") - (col("n_words") - 1)).cast("double") / col("nw"), 6))
      .withColumn("frac_alpha_words",
        round(expr("size(filter(toks, t -> t RLIKE '[a-z]'))") / col("nw"), 6))
      .withColumn("n_req_stopwords",
        expr(s"size(filter(array($reqList), w -> array_contains(toks, w)))"))
      .withColumn("hash_ratio",
        round(cnt("#").cast("double") / col("nw"), 6))
      .withColumn("ellipsis_ratio",
        round(cnt("...").cast("double") / col("nw"), 6))
      .withColumn("frac_bullet_lines",
        round(expr("size(filter(lns, l -> l RLIKE '^(-|\\\\*) '))") /
          size(col("lns")).cast("double"), 6))
      .withColumn("frac_ellipsis_lines",
        round(expr("size(filter(lns, l -> l RLIKE '\\\\.\\\\.\\\\.$'))") /
          size(col("lns")).cast("double"), 6))
      .withColumn("pass_gopher",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1 &&
          col("frac_bullet_lines") <= 0.9 && col("frac_ellipsis_lines") <= 0.3 &&
          col("frac_alpha_words") >= 0.8 && col("n_req_stopwords") >= 2).cast("int"))
      .select("doc_id", "n_words", "mean_word_len", "frac_alpha_words",
        "n_req_stopwords", "hash_ratio", "ellipsis_ratio",
        "frac_bullet_lines", "frac_ellipsis_lines", "pass_gopher")
  }

  /** Gopher's required-stopword list (ibid.): a document must contain at
    * least two of these to pass. */
  val GopherReqStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2), the
    * line-grain companion of [[gopherRules]]'s document-grain gate: a
    * line is RETAINED when it ends in terminal punctuation and has at
    * least 5 words; a document passes when it keeps >= 3 retained lines
    * (the "at least 3 sentences" rule at line grain) and contains
    * neither "lorem ipsum" nor a curly brace (the placeholder-text and
    * code filters). The span-dedup half of C4 lives in [[segmentDedup]].
    *
    * Like gopherRules: every signal is a narrow per-row expression —
    * no shuffle, no UDF, scan-speed at 100 TB — and each rule's value is
    * exposed so curation can audit which rule dropped a document.
    * Fractions round to 6dp before any threshold. */
  def c4Rules(docs: DataFrame): DataFrame = {
    val kept = "size(filter(lns, l -> l RLIKE '[.!?\"]$' AND size(split(l, ' ')) >= 5))"
    docs
      .select(col("doc_id"), col("text"), split(col("text"), "\n").as("lns"))
      .withColumn("n_lines", size(col("lns")))
      .withColumn("n_kept_lines", expr(kept))
      .withColumn("frac_kept_lines",
        round(col("n_kept_lines") / col("n_lines").cast("double"), 6))
      .withColumn("has_lorem_ipsum",
        lower(col("text")).contains("lorem ipsum").cast("int"))
      .withColumn("has_brace", col("text").contains("{").cast("int"))
      .withColumn("pass_c4",
        (col("n_kept_lines") >= 3 &&
          col("has_lorem_ipsum") === 0 && col("has_brace") === 0).cast("int"))
      .select("doc_id", "n_lines", "n_kept_lines", "frac_kept_lines",
        "has_lorem_ipsum", "has_brace", "pass_c4")
  }

  /** Global segment-level dedup (C4/Dolma span dedup, on disjoint
    * `segTokens`-token windows instead of sentences — the corpus has no
    * sentence boundaries): a segment occurring in more than `maxDf`
    * DISTINCT documents is boilerplate and is cut from every document;
    * survivors are reassembled in order.
    *
    * Shape at 100 TB: segmentation is a per-row transform (narrow); the
    * frequency table groups on the segment's 16-byte md5, so the shuffle
    * carries digests + counts, never segment text twice; reassembly
    * groups by doc_id with an in-group array_sort on the segment index —
    * per-doc state is bounded by document length, not corpus size. This
    * is [[substringDupSpans]]'s remove-side: spans REPORTED there,
    * boilerplate REMOVED here, at a coarser (disjoint-window) grain. */
  def segmentDedup(docs: DataFrame, segTokens: Int = 16,
                   maxDf: Int = 1): DataFrame = {
    val t = tokenized(docs)
    val nSegs = greatest(
      ceil(size(col("toks")).cast("double") / segTokens).cast("int"), lit(1))
    val segs = t
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nSegs - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        concat_ws(" ", slice(col("toks"), col("seg_idx") * segTokens + 1,
          lit(segTokens))).as("seg"))
      .withColumn("h", md5(col("seg")))
    val segDf = segs.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("seg_df"))
    segs.join(segDf, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum((col("seg_df") > maxDf).cast("int")).as("n_dup_segments"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("seg_df") <= maxDf,
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg"))).as("cleaned_text"))
  }

  /** Per-document contamination FRACTION vs a benchmark — the graded form
    * of [[contaminationHits]] (GPT-3-style overlap accounting): what share
    * of the document's distinct k-shingles appear anywhere in the
    * benchmark. A thresholdable score, where decontaminate's boolean
    * drops on any single hit. Same shape as decontaminate: the benchmark
    * side reduces to a distinct-shingle set (size-gated broadcast), the
    * corpus is shingled once and left-joined against it. */
  def contaminationFraction(corpus: DataFrame, benchmark: DataFrame,
                            k: Int = 3): DataFrame = {
    val c = tokenized(corpus).filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(shingles(col("toks"), k)).as("shingle"))
    val b = tokenized(benchmark).filter(size(col("toks")) >= k)
      .select(explode(shingles(col("toks"), k)).as("shingle")).distinct()
      .withColumn("hit", lit(1))
    c.join(graft.ops.AutoBroadcast.sizeGate(b), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .withColumn("overlap_frac",
        round(col("n_hits").cast("double") / col("n_shingles"), 6))
  }

  /** Temperature-scaled source mixture (the multilingual/multi-source
    * sampling standard): source s with n_s tokens gets sampling weight
    * w_s ∝ n_s^tau, normalized. tau < 1 up-weights small sources;
    * `epochs` is how many passes over s a w_s-proportional token budget
    * of one corpus-size implies — the over/under-sampling factor.
    * Shape: one token-count aggregation to |sources| rows, then 1-row
    * broadcast totals; everything after the first shuffle is
    * sources-sized. */
  def temperatureMixture(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val bySource = tokenized(docs)
      .groupBy("source").agg(sum(size(col("toks"))).as("n_tokens"))
    val totals = bySource.agg(
      sum(pow(col("n_tokens").cast("double"), tau)).as("sum_pow"),
      sum("n_tokens").cast("double").as("sum_tokens"))
    bySource.crossJoin(broadcast(totals))
      .withColumn("weight",
        round(pow(col("n_tokens").cast("double"), tau) / col("sum_pow"), 6))
      .withColumn("epochs",
        round(pow(col("n_tokens").cast("double"), tau) / col("sum_pow") *
          col("sum_tokens") / col("n_tokens"), 6))
      .select("source", "n_tokens", "weight", "epochs")
  }

  /** Late-interaction retrieval (the ColBERT maxsim family): score(d) =
    * Σ_{q ∈ query} max_{t ∈ d} cos(E(q), E(t)) — each query term finds
    * its best-matching document term, so partial/semantic matches score
    * where exact-term BM25 sees nothing. Term embeddings here are the
    * engine's deterministic stand-in (md5-derived projections, the
    * [[graft.sim.Embeddings.hyperplanes]] trick at term grain); a real
    * build swaps in model embeddings with the SAME plan.
    *
    * The scale insight: cos(E(q), E(t)) depends only on the TERM PAIR,
    * so similarities are computed once at VOCABULARY grain (|vocab| ×
    * |query| rows, broadcast) and documents only join and max — no
    * per-document vector math, no embedding materialized per token
    * occurrence. The per-doc score sums the per-query-term maxes as
    * FIXED-ORDER column arithmetic (m1+m2+…), not a float aggregate, so
    * the result is engine-exact. */
  def lateInteraction(docs: DataFrame, queryTerms: Seq[String],
                      dims: Int = 8, topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty)
    def vecOf(term: String): Array[Double] = Array.tabulate(dims) { j =>
      (graft.functions.Md5Prefix64.hash(s"li:$j:$term".getBytes) % 2001 - 1000) / 1000.0
    }
    def tvExpr(t: Column): Column = array((0 until dims).map(j =>
      (md5Long(concat(lit(s"li:$j:"), t)) % 2001 - 1000) / 1000.0): _*)
    val vocab = tokenized(docs)
      .select(explode(array_distinct(col("toks"))).as("term")).distinct()
      .withColumn("tv", tvExpr(col("term")))
    val simCols = queryTerms.zipWithIndex.map { case (q, i) =>
      val qv = vecOf(q)
      val qLit = array(qv.map(lit).toIndexedSeq: _*)
      val qNorm = math.sqrt(qv.map(x => x * x).sum)
      round(graft.sim.Embeddings.dot(col("tv"), qLit) /
        (graft.sim.Embeddings.norm(col("tv")) * lit(qNorm)), 6).as(s"s_$i")
    }
    val sims = vocab.select(col("term") +: simCols: _*)
    val perDoc = tokenized(docs)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      .join(graft.ops.AutoBroadcast.sizeGate(sims), "term")
      .groupBy("doc_id")
      .agg(queryTerms.indices.map(i => max(col(s"s_$i")).as(s"m_$i")).head,
        queryTerms.indices.map(i => max(col(s"s_$i")).as(s"m_$i")).tail: _*)
    val score = queryTerms.indices.map(i => col(s"m_$i")).reduce(_ + _)
    perDoc.withColumn("li_score", round(score, 6))
      .orderBy(col("li_score").desc, col("doc_id").asc)
      .limit(topK)
      .select(col("doc_id") +: queryTerms.indices.map(i => col(s"m_$i")) :+
        col("li_score"): _*)
  }

  /** Epoch materialization: turn [[temperatureMixture]]'s per-source
    * epoch factor into the ACTUAL per-document copy counts one training
    * epoch uses — `floor(rep)` guaranteed copies plus one more with
    * probability `frac(rep)`, decided by a salted doc hash so the
    * realized epoch is reproducible (and unbiased: E[n_copies] = rep).
    * This is the step between "the mix says 1.7 epochs of this source"
    * and a concrete training list; downstream a sampler explodes
    * n_copies (never materialized here — the per-doc counter is the
    * scalable artifact, the exploded list is corpus×rep).
    *
    * Determinism: rep is the ROUNDED mixture factor, the fractional
    * admission compares integer micro-units of it against the hash
    * bucket — no float compare crosses engines. */
  def epochMaterialize(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val mix = temperatureMixture(docs, tau).select(col("source"),
      col("epochs").as("rep"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(mix), "source")
      .withColumn("n_copies", floor(col("rep")) +
        when(md5Long(concat(lit("epoch:"), col("doc_id").cast("string")))
          % 1000000L <
          round((col("rep") - floor(col("rep"))) * 1000000.0, 0).cast("long"),
          1L).otherwise(0L))
      .select("doc_id", "source", "rep", "n_copies")
  }

  /** Kneser-Ney-smoothed bigram scoring — the serious LM rung above
    * Jelinek-Mercer ([[bigramLogProb]]): absolute discounting plus a
    * CONTINUATION-count back-off,
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1·) + D·N1+(w1,·)/c(w1·) · Pcont(w2)
    *   Pcont(w2) = N1+(·,w2) / |distinct bigram types|
    *
    * so the back-off rewards words that follow MANY contexts, not words
    * that are merely frequent ("Francisco" scores high in raw frequency
    * but follows almost nothing except "San"). Every count is an exact
    * integer from a hash-keyed aggregation; bigram-prefix totals and
    * continuation counts derive from the ONE bigram-count table (its
    * exchange is reused three ways), the type total rides as a 1-row
    * broadcast, and the per-doc average accumulates within the doc's
    * partition — deterministic to the last bit. Scored bigrams are
    * observed (c ≥ 1) and D < 1, so the discounted term never goes
    * negative. */
  def kneserNeyLogProb(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val bg = tokenized(docs).filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("prev"),
            element_at(col("toks"), i + 2).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val bgCnt = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cnt_b"))
    // prefix totals + distinct continuations per prev, continuation
    // counts per cur, and the type total all fold off bgCnt — vocabulary-
    // sized tables, size-gated for the joins back onto the corpus
    val pre = bgCnt.groupBy("prev").agg(
      sum("cnt_b").as("cnt_prev"), count(lit(1)).as("n_follow"))
    val cont = bgCnt.groupBy("cur").agg(count(lit(1)).as("n_precede"))
    val types = bgCnt.agg(count(lit(1)).cast("double").as("n_types"))
    // assemble the full probability table on the BIGRAM-TYPE side first —
    // those joins shuffle vocabulary-sized tables — so the corpus is
    // joined once, not three times
    val table = bgCnt.join(pre, "prev").join(cont, "cur")
    bg.join(graft.ops.AutoBroadcast.sizeGate(table), Seq("prev", "cur"))
      .crossJoin(broadcast(types))
      .withColumn("p",
        (col("cnt_b") - lit(discount)) / col("cnt_prev") +
          lit(discount) * col("n_follow") / col("cnt_prev") *
            (col("n_precede") / col("n_types")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(2.0, col("p"))), 6).as("avg_log2p"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every k-gram, slide a
    * w-hash window, keep each window's minimum — guaranteed to select at
    * least one fingerprint from every w-gram stretch, so any shared
    * substring of length ≥ k+w−1 yields a shared fingerprint, with ~2/(w+1)
    * of positions retained. The robust middle ground between one-hash-per-
    * doc ([[fingerprints]]) and all-positions ([[substringDupSpans]]).
    * Shape: grams are a per-row transform; the window min partitions by
    * doc (per-doc state only) — at 100 TB each document's positions
    * co-locate, no corpus-wide ordering exists anywhere. Output is
    * per-doc summary stats over the distinct selected hashes; the
    * checksum folds them order-independently (sum of 20-bit residues —
    * exact integer arithmetic, no float drift). */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val grams = tokenized(docs).filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - k),
          i => md5Long(concat_ws(" ",
            slice(col("toks"), i + 1, lit(k)))))).as(Seq("pos", "h")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min("h").over(win))
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_fp"),
        min("fp").as("fp_min"),
        max("fp").as("fp_max"),
        sum(pmod(col("fp"), lit(1048576L))).as("fp_checksum"))
  }

  /** DSIR importance weights (Xie et al.: Data Selection via Importance
    * Resampling): score each raw document by how much more likely its
    * hashed-unigram bag is under the TARGET distribution than under the
    * RAW corpus distribution,
    *
    *   log w(x) = Σ_tokens log( p_target(bucket(tok)) / p_raw(bucket(tok)) )
    *
    * with tokens hashed into `buckets` buckets and add-one smoothing on
    * both sides (no bucket is ever zero). Resampling the corpus with
    * probability ∝ w(x) shifts it toward the target domain — the
    * importance-sampling complement of [[contaminationFraction]]'s
    * exclusion. Shape: both distributions are `buckets`-row aggregates
    * (pinned broadcast — the table is O(buckets), not O(data)); the
    * per-doc sum accumulates inside the doc's partition. */
  def dsirWeights(corpus: DataFrame, target: DataFrame,
                  buckets: Int = 64): DataFrame = {
    def bucketed(d: DataFrame) = tokenized(d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("bucket", pmod(md5Long(col("tok")), lit(buckets.toLong)))
    val raw = bucketed(corpus)
    val rawDist = raw.groupBy("bucket").agg(count(lit(1)).as("c_raw"))
    val tgtDist = bucketed(target).groupBy("bucket").agg(count(lit(1)).as("c_tgt"))
    val totals = rawDist.agg(sum("c_raw").cast("double").as("t_raw"))
      .crossJoin(broadcast(tgtDist.agg(sum("c_tgt").cast("double").as("t_tgt"))))
    // bucket-keyed log-ratio table: buckets rows, full outer so a bucket
    // seen on only one side still smooths correctly
    val ratio = rawDist.join(tgtDist, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        log(2.0,
          ((coalesce(col("c_tgt"), lit(0L)) + 1) / (col("t_tgt") + buckets)) /
            ((coalesce(col("c_raw"), lit(0L)) + 1) / (col("t_raw") + buckets)))
          .as("log2_ratio"))
    raw.join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("log2_ratio"), 6).as("log2_weight"))
  }

  /** Per-source k-gram diversity: distinct k-grams / total k-gram
    * instances — the corpus-slice complement of [[repetitionSignals]]'
    * per-doc view. A low-diversity source is templated/boilerplate-heavy
    * and is the first candidate for down-weighting in the mixture
    * ([[budgetSample]] / temperature mix consume exactly this signal).
    *
    * Shapes: the instance count is a narrow per-row expression aggregated
    * by source; the distinct side shuffles (source, shingle) once for the
    * exact count. At 100 TB swap the exact count-distinct for
    * `approx_count_distinct` (the q20_approx_distinct HLL path) — the
    * ratio is a diagnostic, not a training artifact, so 2% rsd is fine;
    * the exact form here is what the oracle can hash-check. */
  def ngramDiversity(docs: DataFrame, k: Int = 3): DataFrame = {
    val t = tokenized(docs)
    val inst = t.groupBy("source")
      .agg(sum(greatest(size(col("toks")) - (k - 1), lit(0)).cast("long"))
        .as("n_instances"))
    val dist = t.select(col("source"), explode(shingles(col("toks"), k)).as("sh"))
      .groupBy("source").agg(countDistinct("sh").as("n_distinct"))
    inst.join(dist, Seq("source"), "left")
      .select(col("source"), col("n_instances"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .withColumn("diversity",
        when(col("n_instances") > 0,
          round(col("n_distinct").cast("double") /
            col("n_instances").cast("double"), 6)))
      .select("source", "n_instances", "n_distinct", "diversity")
  }

  /** Keep-rate curve over a sweep of minimum-token thresholds — the
    * curation dial: what fraction of documents (and of the token budget)
    * survives each candidate length gate, BEFORE committing the corpus to
    * one. ONE scan: every threshold's counters are conditional sums in a
    * single aggregation (no per-threshold pass, no row explosion), and
    * the 1-row wide result unpivots via `stack` — at 100 TB the sweep
    * costs exactly one corpus read no matter how many thresholds it
    * tries. */
  def qualitySweep(docs: DataFrame,
                   thresholds: Seq[Int] = Seq(20, 40, 60, 80, 120)): DataFrame = {
    val t = docs.select(size(tokens(col("text"))).as("n_tokens"))
    val aggs = thresholds.flatMap { th =>
      Seq(sum((col("n_tokens") >= th).cast("long")).as(s"kept_$th"),
        sum(when(col("n_tokens") >= th, col("n_tokens").cast("long"))
          .otherwise(0L)).as(s"tok_$th"))
    } ++ Seq(count(lit(1)).as("total"), sum(col("n_tokens").cast("long")).as("total_tokens"))
    val row = t.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thresholds.map(th => s"$th, kept_$th, tok_$th").mkString(", ")
    row.selectExpr(
      s"stack(${thresholds.size}, $stackArgs) AS (min_tokens, n_kept, tokens_kept)",
      "total", "total_tokens")
      .select(col("min_tokens"), col("n_kept"),
        round(col("n_kept").cast("double") / col("total").cast("double"), 6)
          .as("keep_rate"),
        col("tokens_kept"),
        round(col("tokens_kept").cast("double") /
          col("total_tokens").cast("double"), 6).as("token_keep_rate"))
  }

  /** Feature-hashed (hashing-trick) sparse document vectors: every token
    * hashes to one of `dims` buckets via the shared md5 primitive, bucket
    * weights are term counts, and vectors are l2-normalized then rounded
    * to 6dp. The HashingTF shape without MLlib: no vocabulary table and
    * no fit pass, so the transform is stateless and identical on every
    * executor — what makes it usable as a deterministic embedder at
    * 100 TB (and lets the DuckDB oracle re-derive every value). Long
    * (doc_id, dim, val) form; only non-zero dims are emitted. The l2 norm
    * sums integer-valued squares, so the fold is exact in double and
    * partitioning-invariant. */
  def hashedTf(docs: DataFrame, dims: Int = 16): DataFrame = {
    val dw = tokenized(docs)
      .select(col("doc_id"), col("source"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("source"),
        pmod(md5Long(concat(lit("dim:"), col("term"))), lit(dims.toLong)).as("dim"))
      .agg(count(lit(1)).cast("double").as("w"))
    val nrm = dw.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    dw.join(nrm, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("dim").cast("int").as("dim"),
        round(col("w") / col("nrm"), 6).as("val"))
  }

  /** Dense array form of [[hashedTf]]: element d = the normalized weight
    * of bucket d (0.0 where the doc has no token in d). Built as `dims`
    * conditional sums in ONE map-side-combinable aggregation — each sum
    * has at most one non-zero contribution (dims are unique per doc), so
    * the fold is exact and partitioning-invariant, and no second shuffle
    * or pivot pass is needed. */
  def hashedDocVectors(docs: DataFrame, dims: Int = 16): DataFrame =
    hashedTf(docs, dims).groupBy("doc_id", "source")
      .agg(array((0 until dims).map(d =>
        sum(when(col("dim") === d, col("val")).otherwise(0.0))): _*).as("vec"))

  /** Approximate nearest neighbors over the hashed vectors: candidate
    * pairs are blocked by each document's DOMINANT bucket in a FINER
    * hashed projection of the same token stream — the argmax term-count
    * bucket at `blockDims` width (exact integer counts, ties to the
    * lowest bucket), while cosine is still scored on the `dims`-wide
    * vectors. Near-identical documents hash to near-identical
    * projections at ANY width, so they share the argmax with high
    * probability — the single-band LSH argument — and `blockDims` is
    * both the recall/cost dial and the SCALE knob: block count grows
    * with `blockDims`, and the default derives it from a corpus count
    * as max(2·dims, ⌈N/64⌉), bounding expected pair work at
    * ~(N/blockDims)·N ≈ 64·N — linear in the corpus. (Blocking on the
    * `dims`-wide argmax alone froze block count at `dims` forever, so
    * pair work was N²/dims at every scale — the one plan shape that
    * could not survive a 100× scale-up.) The derivation count is one
    * driver-side scalar per call, same posture as the BPE argmax.
    * Cosine is the fixed-order `vec_dot` fold over the dense arrays
    * (unit vectors → dot = cosine), rounded to 6dp BEFORE ranking; ties
    * break on the neighbor id. Both directions of each pair compete, so
    * every document ranks its own neighbor list. */
  def hashedKnn(docs: DataFrame, dims: Int = 16, k: Int = 3,
                blockDims: Int = 0): DataFrame = {
    val bd: Long =
      if (blockDims > 0) blockDims.toLong
      else graft.ops.ScaleKnobs.blockDims(docs.count(), dims)
    // ONE tokenize+hash pass feeds BOTH projections: the scoring vectors
    // (pmod h, dims) and the blocking buckets (pmod h, bd) re-aggregate
    // the same (doc, term-hash, count) grain — integer two-stage sums
    // are exact, so the vectors are bit-identical to hashedDocVectors'
    // single-pass build while the corpus tokenizes once instead of twice
    val th = tokenized(docs)
      .select(col("doc_id"), col("source"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("source"),
        md5Long(concat(lit("dim:"), col("term"))).as("h"))
      .agg(count(lit(1)).as("c"))
      // default (deserialized) level deliberately: th is TERM-grain —
      // tens of millions of 4-field rows at sf10 — and serialized
      // storage pays a per-row ObjectOutputStream round trip that
      // profiled 6× the aggregation itself (103 vs 17 task-s); the
      // object-form blocks of narrow rows are cheap. Fat-ROW frames
      // (v below, with its 16-wide arrays) are where ser wins.
      .localCheckpoint()
    // one aggregation builds the UNNORMALIZED weight array; the l2 norm
    // then derives from the array itself instead of a second groupBy +
    // join-back (r12 — one exchange and one join fewer). Exact rewrite:
    // the weights are integer counts in doubles, so Σw² is the same
    // exact integer under any fold order, and round(w/nrm, 6) is the
    // identical per-element op (absent dims are 0.0 on both paths).
    val dw = th.groupBy(col("doc_id"), col("source"),
        pmod(col("h"), lit(dims.toLong)).as("dim"))
      .agg(sum(col("c")).cast("double").as("w"))
    val vecs = dw
      .groupBy("doc_id")
      .agg(array((0 until dims).map(d =>
        sum(when(col("dim") === d, col("w")).otherwise(0.0))): _*).as("wv"))
      .select(col("doc_id"),
        transform(col("wv"),
          x => round(x / sqrt(call_function("vec_dot", col("wv"), col("wv"))), 6))
          .as("vec"))
    // blocking projection: dominant term-count bucket at bd width —
    // integer counts and a map-side-combinable max(struct), so the
    // argmax is exact and partitioning-invariant in any engine
    val blocks = th
      .groupBy(col("doc_id"), pmod(col("h"), lit(bd)).as("bdim"))
      .agg(sum(col("c")).as("w"))
      .groupBy("doc_id")
      .agg(max(struct(col("w"), (-col("bdim")).as("nd"))).as("m"))
      .select(col("doc_id"), (-col("m.nd")).cast("int").as("block"))
    val v = vecs.join(blocks, "doc_id")
      // materialize once: the joined (vec, block) frame feeds BOTH sides
      // of the block self-join and would otherwise execute twice
      // (serialized blocks — the deserialized form burned 16 s of GC in
      // this one checkpoint job at sf10, r13 profile)
      .transform(graft.ops.Checkpoints.ser)
    // the checkpointed frame inherits AQE's byte-based coalescing — on a
    // MB-sized corpus that is ONE partition, and the pair fan-out below
    // (ORDERS more rows out than in) would run single-threaded on it.
    // Re-spread when under-split, round-robin so a dominant block's
    // streaming rows spread across every task (the build side is
    // broadcast); a no-op wherever the frame already carries cluster
    // parallelism — the Tables.rebalanced posture.
    val target = v.sparkSession.sparkContext.defaultParallelism
    // top-k via the k-bounded native aggregate instead of a row_number
    // window (r12): the window had to shuffle + sort the WHOLE block
    // fan-out per document — with a dominant block (sf0.1: one bucket
    // holds 1,859 of 5,000 docs → 3.4M of the 4.7M pairs) that is a
    // single giant sort; topk_by partial-reduces every pair where it is
    // produced and ships ≤ k rows per doc per partition. Ordering
    // contract identical: rounded cosine DESC, doc_id_b ASC.
    BlockedPairs(v, "doc_id", Seq("block"), Seq("vec"),
        scores = Seq("cosine" -> call_function("vec_dot", col("vec_a"), col("vec_b"))),
        ordered = true,
        probe = vs => if (vs.rdd.getNumPartitions < target) vs.repartition(target) else vs)
      .groupBy("doc_id_a")
      .agg(call_function("topk_by", col("doc_id_b"), col("cosine"),
        lit(k)).as("tk"))
      .select(col("doc_id_a"), posexplode(col("tk")).as(Seq("p", "n")))
      .select(col("doc_id_a"), col("n.id").as("doc_id_b"),
        col("n.score").as("cosine"), (col("p") + 1).cast("int").as("rk"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * IPL 97(5) 2006): each row draws u ~ U(0,1) deterministically from
    * its id hash and competes on key = ln(u)/w — the monotone-log form
    * of u^(1/w) — and the global top-k by key is an exact w-weighted
    * sample. One scan, no corpus shuffle: orderBy+limit plans as
    * TakeOrderedAndProject (k rows retained per partition, merged on
    * the driver), so this IS the mixture-sampling primitive at 100 TB —
    * any weight column (quality score, source temperature, token count)
    * slots into `weight`. Returns the k sampled rows with `sample_rank`;
    * the ranking window runs AFTER the limit, over k rows only. */
  def weightedSample(df: DataFrame, idCol: Column, weight: Column,
                     k: Int): DataFrame = {
    val u = (md5Long(concat(lit("ws:"), idCol.cast("string")))
      % lit(1000000000L) + lit(0.5)) / lit(1.0e9)
    val top = df
      .withColumn("es_key", log(u) / weight.cast("double"))
      .orderBy(col("es_key").desc, idCol)
      .limit(k)
    top.withColumn("sample_rank",
      row_number().over(Window.orderBy(col("es_key").desc, idCol)))
  }

  /** Per-stratum [[weightedSample]]: an independent A-ES draw of k rows
    * inside every group (per-source sampling quotas, the stratified form
    * of mixture construction). One shuffle, keyed by the group; the
    * rank-filter-over-window pattern is rewritten by Spark's
    * WindowGroupLimit rule into a per-partition top-k BEFORE the
    * exchange, so each map task forwards at most k rows per group it
    * saw — the grouped equivalent of TakeOrderedAndProject. Skewed
    * strata therefore bound at (k × groups-per-task) rows in flight,
    * not at the largest stratum's row count. */
  def weightedSamplePerGroup(df: DataFrame, idCol: Column, weight: Column,
                             groupCol: Column, k: Int): DataFrame = {
    val u = (md5Long(concat(lit("ws:"), idCol.cast("string")))
      % lit(1000000000L) + lit(0.5)) / lit(1.0e9)
    df.withColumn("es_key", log(u) / weight.cast("double"))
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("es_key").desc, idCol)))
      .filter(col("sample_rank") <= k)
      .drop("es_key")
  }

  /** Count–min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) over
    * a column of items: `depth` md5-derived hash rows × `width` columns.
    * The build never holds per-item state — every item emits `depth`
    * (srow, ccol) cells and the aggregation map-side-combines each
    * partition down to ≤ depth×width rows, so the only shuffle is the
    * fixed-size sketch itself at ANY corpus size. That is the whole
    * point of the sketch: frequency queries with memory independent of
    * cardinality. Returns (srow, ccol, cell_count). */
  def cmsSketch(items: DataFrame, itemCol: Column,
                depth: Int = 3, width: Int = 128): DataFrame =
    items
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("srow"),
          (md5Long(concat(lit(s"cms$i:"), itemCol))
            % lit(width.toLong)).as("ccol"))): _*)).as("c"))
      .groupBy(col("c.srow").as("srow"), col("c.ccol").as("ccol"))
      .agg(count(lit(1)).as("cell_count"))

  /** Point-estimate lookup against [[cmsSketch]]: the CM estimate is the
    * MIN over the item's `depth` cells (each an overcount: collisions
    * only inflate). `probes` carries one row per item to estimate; the
    * sketch side is depth×width rows and broadcasts. */
  def cmsEstimate(probes: DataFrame, itemCol: Column, sketch: DataFrame,
                  depth: Int = 3, width: Int = 128): DataFrame = {
    val exploded = probes
      .withColumn("c", explode(array((0 until depth).map(i =>
        struct(lit(i).as("srow"),
          (md5Long(concat(lit(s"cms$i:"), itemCol))
            % lit(width.toLong)).as("ccol"))): _*)))
      .select(probes.columns.map(col) :+ col("c.srow").as("srow")
        :+ col("c.ccol").as("ccol"): _*)
    exploded.join(broadcast(sketch), Seq("srow", "ccol"))
      .groupBy(probes.columns.map(col): _*)
      .agg(min("cell_count").as("cms_estimate"))
  }

  /** Linear (probabilistic) counting (Whang, Vander-Zanden, Taylor, ACM
    * TODS 1990): distinct-count estimation from an m-bit bitmap — item
    * sets bit md5(item) mod m, estimate = −m·ln(V) where V is the zero
    * fraction. Because the hash is md5-derived the bitmap — and hence
    * the estimate — is DETERMINISTIC and engine-independent, so unlike
    * HLL-based approx_count_distinct this sketch is hash-checkable
    * against an oracle, bit for bit. Evaluated at several m at once
    * (one scan; each item emits |ms| cells): the memory/accuracy trade
    * made measurable. Scale: aggregation state is bounded at Σm bits
    * per task (the distinct on (m, bucket) map-side-combines), and the
    * only shuffle is the occupied-cell table — fixed size at any corpus
    * cardinality, the same argument as [[cmsSketch]]. Bitmaps merge by
    * OR (distinct of the cell union), so the sketch is
    * streaming-maintainable. Returns one row per m with the exact
    * distinct count alongside for calibration. */
  def linearCount(items: DataFrame, itemCol: Column, ms: Seq[Int]): DataFrame = {
    val cells = items
      .select(explode(array(ms.map(m =>
        struct(lit(m).as("m"),
          (md5Long(concat(lit("lc:"), itemCol))
            % lit(m.toLong)).as("bucket"))): _*)).as("c"))
      .select(col("c.m").as("m"), col("c.bucket").as("bucket"))
      .distinct()
      .groupBy("m").agg(count(lit(1)).as("occupied"))
    val exact = items.select(itemCol.as("it")).distinct()
      .agg(count(lit(1)).as("exact_distinct"))
    cells.crossJoin(broadcast(exact))
      .withColumn("lc_estimate", round(
        -col("m").cast("double") *
          log((col("m").cast("double") - col("occupied")) /
            col("m").cast("double")), 6))
      .withColumn("rel_err", round(
        abs(col("lc_estimate") - col("exact_distinct")) /
          col("exact_distinct"), 6))
      .select("m", "exact_distinct", "occupied", "lc_estimate", "rel_err")
  }

  /** Fixed-grid histogram quantiles: estimate per-group quantiles from a
    * `width`-wide bucket histogram with linear interpolation inside the
    * selected bucket — the deterministic fixed-memory alternative to an
    * exact `percentile` (which shuffles every value per group) and to
    * t-digest/KLL (whose merge order makes them engine-dependent). The
    * aggregation state is ≤ |groups|×|buckets| cells per task
    * (map-side-combined), so the only exchange is the histogram itself
    * at any corpus size — same posture as [[cmsSketch]]/[[linearCount]].
    * Estimate: the first bucket where the cumulative count reaches q·n,
    * entered proportionally: lo + width·(q·n − cum_prev)/bucket_count.
    * All arithmetic is rational-on-integers → IEEE-deterministic, so the
    * estimates hash-check against the oracle. */
  def histogramQuantiles(df: DataFrame, valueCol: Column, groupCol: Column,
                         qs: Seq[Double], width: Int): DataFrame = {
    val hist = df.select(groupCol.as("grp"),
        floor(valueCol.cast("double") / width).as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("grp").orderBy("bucket")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("cum_prev", col("cum") - col("cnt"))
    val tot = hist.groupBy("grp").agg(sum("cnt").as("n"))
    val targets = tot.select(col("grp"), col("n"),
      explode(array(qs.map(lit): _*)).as("q"))
    val sel = targets
      .join(cum, Seq("grp"))
      .filter(col("cum") >= col("q") * col("n"))
      .groupBy("grp", "q", "n")
      .agg(min(struct(col("bucket"), col("cum_prev"), col("cnt"))).as("m"))
      .withColumn("est", round(
        col("m.bucket") * width +
          lit(width) * (col("q") * col("n") - col("m.cum_prev")) / col("m.cnt"),
        6))
    val estCols = qs.map(q =>
      max(when(col("q") === q, col("est"))).as(s"est_p${(q * 100).toInt}"))
    sel.groupBy("grp", "n")
      .agg(estCols.head, estCols.tail: _*)
      .withColumnRenamed("n", "n_rows")
  }

  /** EXACT set-similarity join via prefix filtering (PPJoin family —
    * Xiao, Wang, Lin, Yu WWW'08; Chaudhuri et al. ICDE'06 SSJoin): all
    * pairs with token-set Jaccard >= `threshold`, 100% recall, no
    * blocking key and no probabilistic miss. The filter that makes it
    * sub-quadratic: order each doc's tokens by GLOBAL frequency
    * ascending (rarest first, ties on the token), keep only the first
    * |T| - ceil(t·|T|) + 1 as the doc's PREFIX — two sets with
    * Jaccard >= t MUST share a prefix token (pigeonhole on the overlap
    * bound) — and generate candidates only from the prefix-token
    * buckets. Rare tokens make small buckets, so candidate fan-in
    * concentrates exactly where pair work is cheap; the frequent-token
    * floods that sink a naive token join never enter a prefix. A length
    * filter (min size >= t·max size, implied by J >= t) prunes pairs
    * before the verify join touches token arrays.
    *
    * Scale: the shuffles are (1) distinct (doc, token) pairs, (2) the
    * token-frequency aggregate (size-gated broadcast back), (3) a
    * doc-keyed window for per-doc prefix ranks, (4) the prefix-bucket
    * self-join — each linear in data or bounded by prefix-bucket
    * fan-in. Verification joins token ARRAYS only for surviving
    * candidate pairs. This is the exact counterpart to the recall-trade
    * paths ([[lshCandidatePairs]], [[fuzzyMatchesPrefixBlocked]]) and
    * the unblocked answer to [[nearDupPairs]]' per-source blocking.
    *
    * The POSITIONAL filter (the first "P" in PPJoin — WWW'08 §3.2) cuts
    * the verify set further, still with zero false dismissals: a shared
    * prefix token at 1-based frequency ranks (pa, pb) bounds the overlap
    * at min(pa,pb)−1 (both lists share the global order, so common
    * tokens before the match sit before it in BOTH) plus 1 (the match)
    * plus min(sa−pa, sb−pb) (what remains after it). Jaccard ≥ t needs
    * overlap ≥ t·(sa+sb)/(1+t), so any pair whose TIGHTEST shared-token
    * bound (the min over its shared prefix occurrences) misses that
    * never reaches the token-array join. The bound is exact integer
    * arithmetic; the comparison is cross-multiplied
    * (bound·(1+t) ≥ t·(sa+sb)) so no division rounds it.
    *
    * `sets` carries (doc_id, items: array<string>) — the per-doc ITEM
    * SET the Jaccard is over. Pass [[shingles]] output for shingle
    * Jaccard (the quantity MinHash-LSH approximates — this join is its
    * exact ground truth) or a distinct token array for token Jaccard.
    * Item choice is also the practical fan-in control: k-shingles are
    * combinatorially rarer than tokens, so their prefix buckets stay
    * small even on a narrow vocabulary where token buckets degenerate
    * (the audited failure mode PlanAuditSpec's quadratic gate catches). */
  def prefixJaccardPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // Hash every item to its 60-bit md5 long FIRST: all downstream state
    // (frequency keys, window payloads, the bucket self-join, the verify
    // arrays) then carries 8-byte longs instead of item text — measured
    // ~2× on the end-to-end at sf0.1, and the identical dHash on the
    // oracle side keeps it engine-exact. Set semantics survive hashing
    // (distinct AFTER hashing, so an improbable collision dedups the
    // same way in both engines).
    val dsets0 = sets.select(col("doc_id"),
      array_distinct(transform(col("items"), x => md5Long(x))).as("items"))
    // gate decision from the PRE-checkpoint plan (a checkpointed
    // LogicalRDD's estimate is not reliably propagated); ×4 inflation
    // because the estimate derives from the text scan, not the hashed
    // arrays
    val verifyBroadcast = graft.ops.AutoBroadcast.decideFrom(dsets0, 4)
    // materialize the hashed sets once: they feed the prefix path AND
    // both verify sides — uncheckpointed, the shingle construction +
    // per-item md5 executes three times
    val dsets = dsets0.localCheckpoint()
    val tok = dsets
      .select(col("doc_id"), size(col("items")).as("set_size"),
        explode(col("items")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
    val sized = tok
      .join(graft.ops.AutoBroadcast.sizeGate(freq), "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tf").asc, col("tok").asc)))
    // materialize the prefix once — it feeds BOTH sides of the candidate
    // self-join, and without a checkpoint the explode→freq→window
    // subtree executes twice
    val prefix = sized.filter(
      col("rk") <= col("set_size") - ceil(lit(threshold) * col("set_size")) + 1)
      .select("tok", "doc_id", "set_size", "rk")
      .localCheckpoint()
    val cand = prefix.select(col("tok"), col("doc_id").as("doc_id_a"),
        col("set_size").as("sz_a"), col("rk").as("pa"))
      .join(prefix.select(col("tok"), col("doc_id").as("doc_id_b"),
        col("set_size").as("sz_b"), col("rk").as("pb")), Seq("tok"))
      .filter(col("doc_id_a") < col("doc_id_b") &&
        least(col("sz_a"), col("sz_b")) >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      // positional overlap upper bound per shared prefix token; the MIN
      // over a pair's occurrences is still a true upper bound, and the
      // groupBy replaces the former pair-distinct — same shuffle, the
      // aggregate rides it for free
      .groupBy("doc_id_a", "doc_id_b", "sz_a", "sz_b")
      .agg(min(least(col("pa"), col("pb")) +
        least(col("sz_a") - col("pa"), col("sz_b") - col("pb"))).as("ubound"))
      .filter(col("ubound").cast("double") * (1.0 + threshold) >=
        lit(threshold) * (col("sz_a") + col("sz_b")))
      .select("doc_id_a", "doc_id_b", "sz_a", "sz_b")
    def verify(pairs: DataFrame, broadcastSides: Boolean): DataFrame =
      BlockedPairs.verifyJaccard(pairs, dsets, "doc_id", "items",
        ("doc_id_a", "doc_id_b"), broadcastSides)
    // verify-join strategy ladder (the r6-decade regime step, resolved):
    //  (1) corpus arrays fit the session threshold → broadcast them,
    //      pairs never shuffle (the small-scale plan, unchanged);
    //  (2) corpus outgrew broadcast but the surviving pair list is
    //      SMALL (a sparse-duplication corpus — the common production
    //      case at high thresholds) → broadcast the ID-ONLY pair list
    //      (16 B/pair) and probe the corpus arrays IN PLACE from both
    //      sides, reducing each side to a |pairs|-row array frame; then
    //      (2a) if the side-a frame WITH its arrays also fits,
    //      broadcast it into the final join — zero array exchange —
    //      else (2b) join the two |pairs|-row frames on the pair key —
    //      the only array exchange is pairs-sized, never corpus-sized;
    //  (3) the pair list is itself big → shuffle joins on the pair
    //      keys, the only correct plan at that size: verify traffic is
    //      then inherently ∝ pairs × set width, and the candidate
    //      VOLUME is the bound that matters (Σ|bucket|² — the measured
    //      sf10 corpus generates 31M surviving candidates for 250
    //      final pairs, its by-construction duplication density; no
    //      broadcast trick shrinks 31M array fetches).
    // Off the rung-1 path the candidate set is ALWAYS materialized
    // first: it is the verify's input either way, the checkpoint gives
    // the rung decision exact byte counts instead of Catalyst
    // join-estimate guesswork, and it gives AQE a measured input size
    // for the rung-3 exchanges (three clean sf10 boots of the lazy
    // rung-3 shape measured 100–178 s vs ~77 s checkpointed — the
    // recomputed-candidate stream plans its verify exchanges blind).
    val verified =
      if (verifyBroadcast) verify(cand.select("doc_id_a", "doc_id_b"), true)
      else {
        val candCk = cand.localCheckpoint()
        val thresholdB = graft.ops.AutoBroadcast.thresholdBytes(sets)
        // one stats pass over the checkpointed pairs: the id-only
        // broadcast size (16 B/pair) and the j1-with-arrays size
        // (48 B + 8 B/item of side a) the 2a/2b split needs
        val st = candCk.agg(
            coalesce(sum(lit(16L)), lit(0L)).as("id_bytes"),
            coalesce(sum(lit(48L) + col("sz_a") * 8L), lit(0L)).as("j1_bytes"))
          .head
        val (idBytes, j1Bytes) = (st.getLong(0), st.getLong(1))
        val pairIds = candCk.select("doc_id_a", "doc_id_b")
        if (thresholdB > 0 && idBytes <= thresholdB) {
          val dsA = dsets.select(col("doc_id").as("doc_id_a"), col("items").as("items_a"))
          val dsB = dsets.select(col("doc_id").as("doc_id_b"), col("items").as("items_b"))
          val j1 = dsA.join(broadcast(pairIds), "doc_id_a")
          val joined =
            if (j1Bytes <= thresholdB)
              dsB.join(broadcast(j1.localCheckpoint()), "doc_id_b")
            else {
              val j2 = dsB.join(broadcast(pairIds), "doc_id_b")
                .select("doc_id_a", "doc_id_b", "items_b")
              j1.join(j2, Seq("doc_id_a", "doc_id_b"))
            }
          joined.select(col("doc_id_a"), col("doc_id_b"),
            BlockedPairs.round6(BlockedPairs.setJaccard(col("items_a"), col("items_b")))
              .as("jaccard"))
        } else verify(pairIds, false)
      }
    verified.filter(col("jaccard") >= threshold)
  }

  /** K-minimum-values distinct sketch (Bar-Yossef et al. RANDOM'02;
    * Beyer et al. SIGMOD'07 unbiased form): per group, hash every item
    * into [0,1), keep the k smallest DISTINCT hash values, estimate
    * distinct count as (k−1)/u_k where u_k is the k-th minimum. The
    * family member [[linearCount]] and [[cmsSketch]] lack: a
    * fixed-k sketch whose size is independent of BOTH corpus size and
    * domain size (linear counting's bitmap must scale with cardinality),
    * and that supports set UNION by merging k-min lists — the
    * cross-partition mergeable shape.
    *
    * Scale: the (group, hash) distinct map-side-combines; the k-smallest
    * selection is a per-group window over the distinct-hash stream —
    * state beyond memory drops into the k-bounded TopK Aggregator
    * (emb_knn_topk's shape) with identical semantics. The md5-derived
    * hash makes the k-min set — and hence the estimate — deterministic
    * and engine-exact (Determinism contract above). Returns one row per
    * group: k-th min (normalized), estimate, exact distinct, rel err. */
  def kmvDistinct(items: DataFrame, itemCol: Column, groupCol: Column,
                  k: Int = 64): DataFrame = {
    val M = 1L << 60 // md5Long range: [0, 2^60)
    // ONE distinct over (group, item) feeds both the sketch and the
    // exact-calibration side — the two consumers share the distinct's
    // exchange (ReusedExchange), so the item stream is scanned and
    // shuffled once, not twice. Hashing after the distinct keeps the
    // subtree identical for both.
    val dt = items.select(groupCol.as("grp"), itemCol.as("it")).distinct()
    val hashed = dt.select(col("grp"),
      md5Long(concat(lit("kmv:"), col("it"))).as("h"))
    val w = Window.partitionBy("grp").orderBy(col("h").asc)
    val kth = hashed
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy("grp")
      .agg(max("h").as("h_k"), count(lit(1)).as("n_kept"))
    val exact = dt.groupBy("grp").agg(count(lit(1)).as("exact_distinct"))
    kth.join(exact, "grp")
      .withColumn("u_k", round(col("h_k").cast("double") / lit(M.toDouble), 9))
      // fewer than k distinct values observed → the sketch IS the exact
      // set; report the kept count itself (the standard small-set case)
      .withColumn("kmv_estimate", round(
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(M.toDouble) /
            col("h_k").cast("double")), 6))
      .withColumn("rel_err", round(
        abs(col("kmv_estimate") - col("exact_distinct")) /
          col("exact_distinct"), 6))
      .select(col("grp"), col("n_kept"), col("u_k"),
        col("kmv_estimate"), col("exact_distinct"), col("rel_err"))
  }

  /** Water-filling token-budget allocation across sources: given a
    * global budget B (here ⌊total/2⌋), find the uniform cap c such that
    * sources under the cap keep everything and the rest contribute
    * exactly c — the max-min-fair mixture allocation (the allocation
    * rule behind "cap the over-represented sources" in data-mixture
    * design). Closed form on the SORTED source table: with n₁≤…≤n_m and
    * prefix sums P, a source is fully taken iff nᵢ·(m−i+1) ≤ B−Pᵢ₋₁
    * (monotone in i, so full sources form a prefix), and
    * c = (B − Σ_full n) div (m − |full|). All-integer arithmetic →
    * engine-exact. Scale: one corpus-linear per-source count; every
    * window runs on the |sources|-row table. */
  def waterFill(docs: DataFrame): DataFrame = {
    val counts = tokenized(docs)
      .select(col("source"), size(col("toks")).as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
    val byN = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val wAll = byN.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPrev = byN.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts
      .withColumn("i", row_number().over(byN))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("budget", expr("sum(n_tokens) over () div 2"))
      .withColumn("p_prev", coalesce(sum("n_tokens").over(wPrev), lit(0L)))
      .withColumn("is_full",
        col("n_tokens") * (col("m") - col("i") + 1) <=
          col("budget") - col("p_prev"))
    val totals = ranked.agg(
      sum(when(col("is_full"), col("n_tokens")).otherwise(0L)).as("sum_full"),
      sum(when(col("is_full"), 1L).otherwise(0L)).as("n_full"))
    ranked.crossJoin(broadcast(totals))
      .withColumn("allocation",
        when(col("is_full"), col("n_tokens"))
          .otherwise(expr("(budget - sum_full) div (m - n_full)")))
      .select("source", "n_tokens", "is_full", "allocation", "budget")
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * k-shingles that appear in NO other document — the memorization-risk
    * / contribution diagnostic (a doc whose shingles all recur elsewhere
    * adds nothing the corpus doesn't already have; Lee et al. 2022's
    * dedup motivation viewed doc-wise). One exploded shingle stream, the
    * shingle document-frequency as a count-over-window on the SAME
    * stream (one shuffle, no self-join), then a doc-grain rollup.
    * Integer-count ratio → engine-exact. Docs with < k tokens have no
    * shingles and drop out. */
  def ngramNovelty(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = tokenized(docs)
      .select(col("doc_id"), explode(shingles(col("toks"), k)).as("sh"))
    val bySh = Window.partitionBy("sh")
    sh.withColumn("df", count(lit(1)).over(bySh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty", round(lit(1.0) -
        col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Pairwise group Jaccard from MERGED KMV sketches — the operation
    * that justifies KMV over a bitmap: two groups' k-min lists union
    * into the k-min list of A∪B (dedup + sort + take k), and
    * J(A,B) ≈ |{x ∈ KMV_k(A∪B) : x ∈ A ∧ x ∈ B}| / |KMV_k(A∪B)|
    * (Beyer et al. SIGMOD'07 §5). That turns all-pairs set overlap —
    * the pre-reweighting "which sources duplicate each other" matrix —
    * into |groups|² work over k-length long arrays instead of a
    * corpus-sized term join. The exact Jaccard rides along as
    * calibration (a term-keyed pair join whose fan-in is bounded by
    * |groups|² per term — fine at 20 sources, and explicitly the part
    * the sketch path replaces at scale). Everything is md5-derived
    * integer/array arithmetic → engine-exact.
    *
    * Scale: the sketch side shuffles ONE distinct (group, item) stream
    * (shared with the per-group k-min via ReusedExchange), then the
    * pair matrix is |groups|²·k array ops on the driver-free broadcast
    * join of two |groups|-row frames. */
  def kmvPairJaccard(items: DataFrame, itemCol: Column, groupCol: Column,
                     k: Int = 128): DataFrame = {
    val dt = items.select(groupCol.as("grp"), itemCol.as("it")).distinct()
    val hashed = dt.select(col("grp"),
      md5Long(concat(lit("kmv:"), col("it"))).as("h"))
    val w = Window.partitionBy("grp").orderBy(col("h").asc)
    val kmin = hashed
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy("grp")
      .agg(array_sort(collect_list("h")).as("kmin"))
    // no block key: every group pair, the k-min union `ku` merged once
    val est = BlockedPairs(kmin.select(col("grp").as("source"), col("kmin")),
        "source", Nil, Seq("kmin"),
        scores = Seq(
          "ku" -> slice(array_sort(array_union(col("kmin_a"), col("kmin_b"))), 1, k),
          "kmv_jaccard" -> (size(filter(col("ku"), x =>
            array_contains(col("kmin_a"), x) && array_contains(col("kmin_b"), x)))
            .cast("double") / size(col("ku")))),
        build = broadcast)
      .select("source_a", "source_b", "kmv_jaccard")
    // exact calibration: |A∩B| via the term-keyed pair join over the
    // SAME distinct frame, sizes from its per-group rollup
    val sizes = dt.groupBy("grp").agg(count(lit(1)).as("n"))
    val inter = BlockedPairs(dt.select(col("it"), col("grp").as("source")),
      "source", Seq("it"), shared = Some("n_inter"))
    BlockedPairs.attach(est.join(inter, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("n_inter")),
        sizes, "grp", Seq("n"), ("source_a", "source_b"), broadcastSides = true)
      .withColumn("exact_jaccard", BlockedPairs.round6(
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))))
      .withColumn("abs_err",
        BlockedPairs.round6(abs(col("kmv_jaccard") - col("exact_jaccard"))))
      .select("source_a", "source_b", "kmv_jaccard", "exact_jaccard",
        "abs_err")
  }

  /** Zipf rank–frequency fit per group: least-squares slope of
    * ln(freq) on ln(rank) over the top `topN` terms — natural text sits
    * near −1; corpora skewed by boilerplate or template spam bow away
    * from it, which makes the slope a one-number corpus-health
    * diagnostic (Piantadosi 2014 review). Restricting the fit to a
    * deterministic top-N (freq desc, term asc ties) bounds the
    * regression input per group, and the closed-form slope
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over those N points is engine-exact
    * at the rounded precision. Scale: one token aggregation (map-side
    * combined) + a per-group N-bounded window — no corpus-sized state
    * past the frequency table. */
  def zipfSlope(docs: DataFrame, topN: Int = 200): DataFrame = {
    val freq = tokenized(docs)
      .select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("source")
      .orderBy(col("f").desc, col("term").asc)
    val ranked = freq
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .withColumn("x", log(col("rnk").cast("double")))
      .withColumn("y", log(col("f").cast("double")))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("zipf_slope", round(
        (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6))
      .select("source", "n_terms", "zipf_slope")
  }

  /** Out-of-vocabulary rate per source against a corpus-derived top-K
    * vocabulary (freq desc, term asc ties — deterministic cut): the
    * standard tokenizer-coverage diagnostic before committing a vocab
    * size. The rate is a ratio of integer token counts (no float
    * accumulation), so it is exact in any engine. Scale: vocabulary is
    * top-K (bounded) and broadcasts; the membership probe is a
    * broadcast LEFT join at the token stream — one corpus-linear pass,
    * no corpus-sized shuffle beyond the frequency aggregation that
    * derives the vocab (shared via exchange reuse with the probe's
    * aggregation). */
  def oovRate(docs: DataFrame, vocabSize: Int = 500): DataFrame = {
    // aggregate the token stream to (source, term) counts ONCE; the
    // global vocabulary derives from a rollup of those partials and the
    // probe joins the same frame — the corpus is scanned and the token
    // stream shuffled a single time, both consumers sharing the
    // (source, term) exchange (td_source_kl's trick). Probe rows are
    // |vocab ∪ observed terms| per source, not |tokens|.
    val st = tokenized(docs)
      .select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c_st"))
    val vocab = st.groupBy("term").agg(sum("c_st").as("f"))
      .orderBy(col("f").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    st.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source")
      .agg(sum("c_st").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c_st")).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate", round(
        col("n_oov").cast("double") / col("n_tokens"), 6))
      .select("source", "n_tokens", "n_oov", "oov_rate")
  }
}
