package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The SINGLE definition of every stage-1 curation gate, shared by
  * [[CurationPipeline]] (which filters on them) and the registered
  * funnel/filter queries (`td_funnel`, `td_filter_pipeline` — which
  * audit them): one predicate per signal column, so the pipeline and
  * its observability queries cannot drift apart (VERDICT r4 item 4).
  *
  * Each predicate is a pure Column expression over the signal frame's
  * own columns ([[TextOps.qualityScores]], [[TextOps.langId]],
  * [[TextOps.repetitionSignals]], [[TextOps.gopherRules]],
  * [[TextOps.c4Rules]]); composing them stays row-local and
  * codegen-friendly.
  */
object CurationGates {
  /** Heuristic quality bucket is not the bottom tertile. */
  val quality: Column = col("quality_bucket") =!= "low"
  /** n-gram language ID agrees with the document's declared language. */
  val lang: Column = col("lang_match") === 1
  /** Top-token fraction below the repetition ceiling. */
  val repetition: Column = col("top_token_fraction") < 0.5

  /** Corpus-portable Gopher subset (Rae et al. 2021 App. A.1.1): the
    * word-shape and symbol-ratio rules, which apply to any text corpus.
    * The required-STOPWORD rule is deliberately not part of the gate:
    * it is calibrated to English web text (this corpus's synthetic
    * documents max out at one required stopword, so the verbatim gate
    * rejects 100% — measured on sf0.001), and language coverage is
    * already [[lang]]'s job. The verbatim rule-set remains available as
    * the registered audit query `txt_gopher`'s `pass_gopher`. */
  val gopher: Column =
    col("n_words") >= 50 && col("n_words") <= 100000 &&
      col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
      col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1 &&
      col("frac_bullet_lines") <= 0.9 && col("frac_ellipsis_lines") <= 0.3 &&
      col("frac_alpha_words") >= 0.8

  /** Corpus-portable C4 subset (Raffel et al. 2020 §2.2): the
    * placeholder-text and code filters. The kept-lines rule (terminal
    * punctuation + ≥5 words per line) is web-page-specific — this
    * corpus is single-line prose without terminal punctuation, so the
    * verbatim rule rejects 100% (measured). Verbatim form: the `txt_c4`
    * audit query's `pass_c4`. */
  val c4: Column = col("has_lorem_ipsum") === 0 && col("has_brace") === 0

  /** Stage-1 conjunction in audit order. */
  val all: Column = quality && lang && repetition && gopher && c4

  /** (name, predicate) in audit order — the pipeline derives its
    * per-gate rejection rows from this list, so a gate added here is
    * audited automatically. */
  val ordered: Seq[(String, Column)] = Seq(
    "quality" -> quality, "lang" -> lang, "repetition" -> repetition,
    "gopher" -> gopher, "c4" -> c4)

  /** The per-doc signal frame every gate reads from — one row per doc
    * with all five signal families joined (quality bucket, lang vote,
    * repetition fraction, Gopher rule columns, C4 rule columns), read by
    * [[CurationPipeline]]. */
  def signalsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextOps.qualityScores(docs).select("doc_id", "quality_bucket")
      .join(TextOps.langId(docs).select("doc_id", "lang_match"), "doc_id")
      .join(TextOps.repetitionSignals(docs)
        .select(col("doc_id"), col("top_token_fraction")), "doc_id")
      .join(TextOps.gopherRules(docs).drop("n_req_stopwords"), "doc_id")
      .join(TextOps.c4Rules(docs)
        .select("doc_id", "has_lorem_ipsum", "has_brace", "pass_c4"), "doc_id")
}
