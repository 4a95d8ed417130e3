package graft.ext

import graft.text.Tokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Corpus-analysis operators beyond the reference surface (BASELINE.json
  * north-star): language identification, content fingerprinting. Quality
  * scoring and token statistics live in graft.queries.TextQueries.
  */
object TextAnalysis {

  /** Marker-word profiles for the n-gram/stopword language heuristic.
    * Deliberately tiny and frozen — the operator contract is "deterministic
    * scoring against fixed per-language profiles, argmax with lexicographic
    * tie-break", not linguistic accuracy.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Count of tokens belonging to one language profile. */
  private def markerCount(toks: Column, lang: String): Column = {
    val arr = array(markers(lang).map(lit): _*)
    size(filter(toks, w => array_contains(arr, w)))
  }

  /** Predicted language: argmax marker count, ties broken by language code
    * ascending; "und" (undetermined) when no marker hits at all.
    */
  def langId(text: Column): Column = {
    val toks = Tokenizer.tokens(text)
    val langs = markers.keys.toSeq.sorted
    val scored = langs.map(l => struct(markerCount(toks, l).as("n"), lit(l).as("lang")))
    // max over (n, -lex): sort by n desc then lang asc => take first of sorted
    val best = array_sort(array(scored: _*),
      (a, b) => when(a("n") > b("n"), -1).when(a("n") < b("n"), 1)
        .when(a("lang") < b("lang"), -1).when(a("lang") > b("lang"), 1).otherwise(0))
    when(best(0)("n") === 0, lit("und")).otherwise(best(0)("lang"))
  }

  /** Content fingerprint: md5 of the normalized token stream — invariant to
    * case/punctuation/whitespace differences, the cheap exact-after-
    * normalization dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws("|", Tokenizer.tokens(text)).cast("binary"))
}
