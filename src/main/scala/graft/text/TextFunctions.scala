package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline surface:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything is a pure Catalyst expression tree (no UDFs) so the whole
  * document pass stays inside one WholeStageCodegen span and scales as a
  * single map-only stage over the corpus — the 100 TB shape: no shuffle at
  * all until an aggregate consumes these columns.
  */
object TextFunctions {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Punctuation-to-character ratio (ASCII `\p{Punct}`, counted in the
    * shared [[stats]] pass instead of a full-text regexp_replace rewrite).
    */
  def punctRatio(text: Column, stopwords: Seq[String] = Seq.empty): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      stats(text, stopwords).getField("punct_count").cast("double") /
        length(text).cast("double"))

  /** All token statistics in one codegen'd pass
    * ([[graft.expr.TextStats]]): the ratio/evidence helpers below extract
    * fields from this shared struct, and identical instances merge under
    * subexpression elimination — so a query mixing quality + language-ID
    * walks each document's tokens once, not 8 times interpreted.
    */
  def stats(text: Column, stopwords: Seq[String] = Seq.empty): Column =
    graft.expr.TextStats.stats(text, stopwords, langMarkers.toSeq.sortBy(_._1))

  /** Fraction of tokens that are in `stopwords` (lowercased exact match). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stats(text, stopwords).getField("stop_ratio")

  /** Mean token length (characters). */
  def meanTokenLen(text: Column, stopwords: Seq[String] = Seq.empty): Column =
    stats(text, stopwords).getField("mean_tok_len")

  /** Composite quality score in [0,1]: length band + punct band + mean
    * token length band. Deterministic rule mix, oracle-replicable in SQL.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val st = stats(text, stopwords)
    val lenOk = when(st.getField("n_tokens").between(10, 100000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text, stopwords) < 0.2, lit(0.3)).otherwise(lit(0.0))
    val stopOk = when(st.getField("stop_ratio") > 0.05, lit(0.3)).otherwise(lit(0.0))
    lenOk + punctOk + stopOk
  }

  /** Language-ID marker words per language. On the synthetic corpus these
    * are function-word frequencies; the mechanism (per-language evidence
    * count → argmax with deterministic tie-break) is the real n-gram
    * heuristic shape.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Predicted language: argmax evidence, ties broken by language code
    * order, "und" (undetermined) when no marker hits at all.
    *
    * `stopwords` does not change the result — passing the same list as a
    * co-occurring `qualityScore`/`stopwordRatio` call makes the underlying
    * [[stats]] expressions identical, so they merge into one token pass.
    */
  def langId(text: Column, stopwords: Seq[String] = Seq.empty): Column = {
    val st = stats(text, stopwords)
    val langs = langMarkers.keys.toSeq.sorted
    val evs = langs.map(l => st.getField(s"ev_$l"))
    // Linear-size argmax: greatest + first-match-wins when chain. (A
    // pairwise struct reduce re-embeds the accumulated CASE tree at every
    // level — exponential expression size, which blew past codegen limits
    // and ran interpreted without subexpression elimination.)
    val mx = greatest(evs: _*)
    val pick = coalesce(langs.zip(evs).map { case (l, e) => when(e === mx, lit(l)) }: _*)
    when(mx === 0, lit("und")).otherwise(pick)
  }

  /** Document fingerprint: content-defined rolling scheme — hash each
    * k-shingle, keep the minimum w per window position... simplified to the
    * robust winnowing-lite form: min xxhash64 over all k-shingles (a
    * deterministic 1-feature sketch) plus md5 of normalized text.
    */
  def fingerprint(text: Column, shingleSize: Int = 4): Column =
    graft.expr.ShingleMinHash.minHash(text, shingleSize)
}
