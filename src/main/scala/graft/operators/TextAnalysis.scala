package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: language id, quality
 * scoring, token counting, document fingerprinting. Quality metrics are pure
 * `functions._` compositions (whole-stage codegen); language id is a compact
 * stopword/character heuristic UDF.
 */
object TextAnalysis {

  /** Whitespace token count; 0 for blank text. Codegen-friendly (no UDF). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Punctuation+symbol character count. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))

  /**
   * Quality score in [0,1]: blend of length band, punctuation ratio, mean
   * word length band — the usual cheap pre-filters for web-scale corpora.
   */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val punctRatio = punctCount(text).cast("double") / greatest(nChars, lit(1.0))
    val meanWordLen = nChars / greatest(nTokens, lit(1.0))
    val lenScore = least(nChars / 200.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio * 4.0, lit(0.0))
    val wordScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.3)
    // no rounding: callers that need a hash-stable value floor-scale instead
    lenScore * 0.4 + punctScore * 0.3 + wordScore * 0.3
  }

  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "with", "was", "it", "a"),
    "de" -> Set("der", "die", "und", "das", "ist", "von", "mit", "ein", "nicht", "den", "zu"),
    "fr" -> Set("le", "la", "et", "les", "des", "est", "un", "une", "du", "que", "dans", "pour"),
    "es" -> Set("el", "la", "de", "que", "y", "los", "en", "un", "una", "es", "del", "por"))

  /** N-gram/stopword language id heuristic: best stopword-hit ratio wins.
   * Static kernel — called from the codegen [[graft.functions.LangIdExpr]]
   * (r6: was a boxed UDF). Null/empty → "und", as the UDF form returned. */
  def langIdOf(text: String): String =
    if (text == null || text.isEmpty) "und"
    else {
      val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      if (words.isEmpty) "und"
      else {
        var best = "und"
        var bestScore = 0
        stopwords.foreach { case (lang, sw) =>
          val score = words.count(sw.contains)
          if (score > bestScore || (score == bestScore && score > 0 && lang < best)) {
            best = lang
            bestScore = score
          }
        }
        best
      }
    }

  /** Rolling polynomial fingerprint of normalized text (deterministic int64).
   * Static kernel for [[graft.functions.FingerprintExpr]]; null → 0L. */
  def fingerprintOf(text: String): Long =
    if (text == null) 0L
    else {
      val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
      var h = 1469598103934665603L // FNV offset basis
      var i = 0
      while (i < norm.length) {
        h = (h ^ norm.charAt(i)) * 1099511628211L
        i += 1
      }
      h
    }

  /** Codegen column forms (kept under the historical names). */
  def langIdUdf: Column => Column = graft.functions.HashExprs.langId
  def fingerprintUdf: Column => Column = graft.functions.HashExprs.fingerprint

  /** Convenience: annotate a documents DataFrame with all text metrics. */
  def annotate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("token_count", tokenCount(col(textCol)))
      .withColumn("punct_count", punctCount(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", graft.functions.HashExprs.langId(col(textCol)))
      .withColumn("fingerprint", graft.functions.HashExprs.fingerprint(col(textCol)))
}
