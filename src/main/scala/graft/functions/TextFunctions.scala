package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text column builders — all built-in/higher-order functions
  * (codegen'd), no UDFs, so they stay inside whole-stage codegen at scale. */
object TextFunctions {

  /** Words = maximal non-whitespace runs (portable across engines). */
  def tokens(c: Column): Column = regexp_extract_all(c, lit("\\S+"), lit(0))

  /** Whitespace-normalized lowercase text. */
  def normalized(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Content fingerprint = md5 of normalized text. */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Efraimidis–Spirakis A-ES weighted-sampling key: ln(u)/w with
    * u ∈ (0,1) derived from the content-free md5 of `id` — NOT a random
    * draw, so runs, engines and layouts all select the identical q105
    * sample. */
  def aesKey(id: Column, weight: Column): Column = {
    val u = (conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("double") + 1.0) /
      lit(4294967297.0)
    log(u) / weight
  }

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation. */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  val StopWords: Seq[String] = Seq("the", "a", "and", "of", "to")

  def stopCount(toks: Column): Column =
    size(filter(toks, t => t.isin(StopWords: _*)))

  /** k-word shingles from a token array (empty if fewer than k tokens). */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic (q35). Deliberately tiny: language ID at 100 TB must stay
    * a map-side scan with no model broadcast. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est"),
    "es" -> Seq("el", "los", "y", "las", "una", "es"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "ren2"))

  /** Predicted language = argmax over marker-hit ratios; ties resolved by
    * struct ordering (score, then lang desc under max). */
  def langScores(toks: Column): Column =
    array(LangMarkers.map { case (lang, markers) =>
      struct(
        (size(filter(toks, t => t.isin(markers: _*))).cast("double") /
          greatest(size(toks), lit(1)).cast("double")).as("score"),
        lit(lang).as("lang"))
    }: _*)

  def predictedLang(toks: Column): Column = {
    val best = array_max(langScores(toks))
    best.getField("lang")
  }
}
