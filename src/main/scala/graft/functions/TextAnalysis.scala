package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All pure column expressions (codegen'd, no UDFs): at 100 TB these run
  * inside whole-stage codegen directly over the parquet scan with full
  * column pruning.
  */
object TextAnalysis {

  /** Whitespace tokens = the NON-EMPTY maximal runs of non-whitespace.
    * Spark's 2-arg split keeps boundary empty strings (limit -1) and
    * trim() strips only 0x20, so text ending in \n/\t would otherwise
    * grow a phantom empty token and disagree with the kernel counts —
    * filtering empties pins both sides to the same clean definition.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-pieces + digits + punctuation as separate
    * tokens (a regex approximation of byte-pair tokenizers — kept as the
    * zero-setup estimator; [[bpeTokenCount]] is the real merge-table BPE).
    */
  def bpeishTokenCount(text: Column): Column = {
    val pieces = regexp_extract_all(
      text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0))
    size(pieces)
  }

  /** REAL BPE subword count under the frozen merge table
    * ([[TrainedBpeMerges]], trained by `runMain graft.TrainBpeMerges`):
    * greedy rank-ordered merges over each whitespace word's code points —
    * see [[Bpe]] for the exact contract both engines replay. One codegen'd
    * kernel pass per row; this is the counter token-budget curation meters
    * with.
    */
  def bpeTokenCount(text: Column): Column = {
    val (lefts, rights) = Bpe.compiled(TrainedBpeMerges.merges)
    KernelExpressions.bpeTokenCount(text, lefts.toSeq, rights.toSeq)
  }

  /** Ratio of punctuation chars (fixed class, cross-engine-stable). */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", "")
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(stripped)).cast("double") / length(text))
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isInCollection(stopwords))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: length score × (1 - punct ratio)
    * × stopword-presence score. Heuristic quality gate for corpus filtering.
    * All three components come from ONE kernel pass
    * ([[KernelExpressions.textQualityStats]]) — the standalone-column
    * expressions above re-split the text per component; the counts (and
    * therefore every double) are identical by construction.
    */
  def qualityScore(text: Column): Column = {
    val st = KernelExpressions.textQualityStats(text)
    val nTok = element_at(st, 1)
    val nStop = element_at(st, 2)
    val nPunct = element_at(st, 3)
    val nChars = element_at(st, 4)
    val lenScore = least(nTok.cast("double") / 100.0, lit(1.0))
    val punct = lit(1.0) -
      when(nChars === 0L, lit(0.0)).otherwise(nPunct.cast("double") / nChars)
    val stop = least(
      when(nTok === 0L, lit(0.0)).otherwise(nStop.cast("double") / nTok) * 5.0,
      lit(1.0))
    round(lenScore * punct * (lit(0.5) + stop * 0.5), 6)
  }

  /** Simple n-gram/stopword language-ID heuristic: score each candidate
    * language by its marker-token hit count; argmax with deterministic
    * lexicographic tiebreak. Runs as one expression tree per row.
    */
  val languageProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "du", "que", "est"),
    "pt" -> Seq("o", "a", "os", "de", "que", "e", "do", "da", "em", "um"))

  def languageId(text: Column): Column =
    // One codegen'd pass over the token array (KernelExpressions.langIdPick)
    // replacing the interpreted per-language filter-lambda formulation; the
    // kernel reproduces array_max over (score, lang) structs exactly — ties
    // resolve to the later language code, deterministically.
    KernelExpressions.langIdPick(tokens(lower(text)),
      languageProfiles.map(_._1), languageProfiles.map(_._2))

  /** Polynomial rolling-hash document fingerprint over characters:
    * acc = (acc * 31 + ascii(ch)) mod 1e9+7. Deterministic, expression-only.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, ch) => pmod(acc * 31 + ascii(ch), lit(1000000007L)))

  /** Fraction of n-gram occurrences accounted for by the single most
    * frequent word n-gram — the Gopher "top n-gram" repetition signal
    * (templated/boilerplate text scores high). Kernel-backed: one codegen'd
    * pass per row, all-integer stats, ratio taken in the plan.
    */
  def topNgramFraction(text: Column, n: Int): Column = {
    val s = KernelExpressions.wordNgramStats(text, n)
    when(element_at(s, 1) === 0L, lit(0.0))
      .otherwise(element_at(s, 3).cast("double") / element_at(s, 1))
  }

  /** Fraction of n-gram occurrences that are repeats of an earlier
    * occurrence — the Gopher "duplicate n-gram" signal (spammy repetition
    * scores high; distinct text scores 0).
    */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val s = KernelExpressions.wordNgramStats(text, n)
    when(element_at(s, 1) === 0L, lit(0.0))
      .otherwise((element_at(s, 1) - element_at(s, 2)).cast("double") / element_at(s, 1))
  }

  /** Regex PII scrubbing for training text: emails → `<EMAIL>`, 7+-digit
    * runs (phones, account numbers) → `<NUM>`. Patterns are deliberately
    * RE2-compatible so the DuckDB oracle replays them verbatim; Spark's
    * regexp_replace is global by default, matching DuckDB's 'g' flag.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{7,}"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<NUM>")

  /** Count of PII matches (before redaction) — the audit metric that rides
    * along with scrubbing in a real pipeline.
    */
  def piiMatchCount(text: Column): Column =
    // number matches are counted on the EMAIL-REDACTED text, exactly as
    // redaction applies them sequentially — a 7+-digit run inside an email
    // must not count twice when only one replacement happens
    regexp_count(text, lit(EmailPattern)) +
      regexp_count(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(LongNumberPattern))
}
