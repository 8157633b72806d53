package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Text-analysis column builders (SURVEY.md §2.E), composed from
  * codegen'd built-ins — no UDFs anywhere on this path, so the whole
  * stage stays inside WholeStageCodegen at any scale.
  *
  * Regex patterns are restricted to the Java∩RE2 common subset so the
  * DuckDB oracle can run the byte-identical pattern.
  */
object TextFunctions {

  /** BPE-ish pre-tokenizer: letter runs, single digits, isolated
    * punctuation — a deterministic stand-in for a real BPE vocab that
    * preserves the shape (counts ≫ ws tokens on digit/punct-heavy
    * text).
    */
  val BpeToken = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  val Punct = "[.,!?;:]"

  /** Per-language stopword profiles for langid scoring. */
  val StopwordProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|in|it|a)\\b",
    "de" -> "\\b(der|die|und|das|ist|ein|zu)\\b",
    "es" -> "\\b(el|los|las|una|es|y|que)\\b",
    "fr" -> "\\b(le|les|et|est|une|dans|que)\\b")

  /** Whitespace tokens of a string column (the `\S+` split every
    * oracle mirrors).
    */
  def wsTokens(c: Column): Column =
    regexp_extract_all(c, lit("\\S+"), lit(0))

  /** Adjacent-token bigrams of a token array (multiplicities kept;
    * empty below two tokens). Built by zipping the array against its
    * own tail — a lambda that indexed back into an outer expression
    * would re-evaluate it per element.
    */
  def bigramArray(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  def wsTokenCount(c: Column): Column =
    GraftColumnBridge.column(
      expressions.TokenCount(GraftColumnBridge.expression(c)))

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeToken), lit(0)))

  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit(Punct), lit(0)))

  def stopwordCount(c: Column, profile: String): Column =
    size(regexp_extract_all(c, lit(profile), lit(0)))

  /** Non-whitespace character count (= Σ token lengths). */
  def nonSpaceChars(c: Column): Column =
    length(regexp_replace(c, "\\s+", ""))

  def meanWordLen(c: Column): Column =
    nonSpaceChars(c).cast("double") / wsTokenCount(c).cast("double")

  /** Composite quality score in [0,1]; every term double-typed with a
    * fixed evaluation order (oracle-identical IEEE arithmetic).
    */
  def qualityScore(c: Column): Column = {
    val nTok = wsTokenCount(c).cast("double")
    val stopRatio = stopwordCount(c, StopwordProfiles.head._2)
      .cast("double") / nTok
    val punctRatio = punctCount(c).cast("double") / length(c).cast("double")
    least(lit(1.0), nTok / lit(50.0)) * lit(0.4) +
      least(lit(1.0), stopRatio * lit(8.0)) * lit(0.4) +
      (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))) * lit(0.2)
  }

  /** Stopword-profile language ID: score each language, argmax with a
    * fixed tie-break ladder (profile order), 'und' when all zero.
    */
  def langId(c: Column): Column =
    langIdFromCounts(StopwordProfiles.map { case (lang, p) =>
      lang -> stopwordCount(c, p)
    })

  /** The langId argmax ladder over already-computed per-language
    * counts (shared by the regex and [[GraftFunctions.gateStats]]
    * paths).
    */
  def langIdFromCounts(counts: Seq[(String, Column)]): Column = {
    val allZero = counts.map(_._2 === 0).reduce(_ && _)
    // lang wins when its count >= every later count and > every
    // earlier count has already been handled by ladder order.
    val ladder = counts.zipWithIndex.foldRight(lit("und")) {
      case (((lang, cnt), i), elseCol) =>
        val later = counts.drop(i + 1).map(_._2)
        val cond = later match {
          case Nil => cnt > 0
          case one :: Nil => cnt >= one && cnt > 0
          case many => cnt >= greatest(many: _*) && cnt > 0
        }
        when(cond, lit(lang)).otherwise(elseCol)
    }
    when(allZero, lit("und")).otherwise(ladder)
  }

  /** [[qualityScore]] from a [[GraftFunctions.gateStats]] struct —
    * identical arithmetic (same double terms, same evaluation order),
    * with the seven regex passes replaced by the one-pass counts.
    */
  def qualityFromGate(g: Column): Column = {
    val nTok = g.getField("n_ws").cast("double")
    val stopRatio = g.getField("c_en").cast("double") / nTok
    val punctRatio =
      g.getField("n_punct").cast("double") / g.getField("n_chars").cast("double")
    least(lit(1.0), nTok / lit(50.0)) * lit(0.4) +
      least(lit(1.0), stopRatio * lit(8.0)) * lit(0.4) +
      (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))) * lit(0.2)
  }

  /** [[langId]] from a [[GraftFunctions.gateStats]] struct. */
  def langIdFromGate(g: Column): Column =
    langIdFromCounts(Seq(
      "en" -> g.getField("c_en"), "de" -> g.getField("c_de"),
      "es" -> g.getField("c_es"), "fr" -> g.getField("c_fr")))

  /** Normalized-content fingerprint: lower + collapse whitespace →
    * md5. Portable to any engine for verification.
    */
  def fingerprint(c: Column): Column =
    md5(to_binary(lower(GraftFunctions.collapseWs(c)), lit("utf-8")))
}
