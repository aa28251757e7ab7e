package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis.{charClassCount, countOcc, normText, padded, qualityStopwords, wordCount}

/** Declarative references for the text kernels in
  * [[graft.text.TextAnalysis]]: built-in column functions only, the forms
  * the DuckDB oracles mirror (q22, q23, q35). Production runs the one-pass
  * kernels; PipelineSpec pins each kernel ≡ reference pair, null text
  * included. */
object TextReference {

  /** q22's quality features per document (≡ `quality_prims_udf` +
    * `qualityColumnsFromPrims`). Every ratio is a single IEEE division of
    * integer-derived values, so the oracle mirroring the same arithmetic is
    * bit-identical. */
  def qualityColumns(text: Column): Seq[Column] = {
    val nChars = length(text).cast("long")
    val nWords = wordCount(text)
    val punct = charClassCount(text, """.,;:!?""")
    val digits = charClassCount(text, "0-9")
    val upper = charClassCount(text, "A-Z")
    val stop = qualityStopwords
      .map(w => countOcc(padded(text), s" $w ")).reduce(_ + _)
    val safeChars = greatest(nChars, lit(1L)).cast("double")
    val safeWords = greatest(nWords, lit(1L)).cast("double")
    Seq(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (punct.cast("double") / safeChars).as("punct_ratio"),
      (digits.cast("double") / safeChars).as("digit_ratio"),
      (upper.cast("double") / safeChars).as("upper_ratio"),
      (stop.cast("double") / safeWords).as("stopword_ratio"),
      (nChars.cast("double") / safeWords).as("avg_word_len"))
  }

  /** BPE-ish pre-tokenizer count (≡ `bpeTokenCountKernel`): matches of
    * letter runs, single digits and single non-alnum glyphs. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Char k-gram hashes of the normalized text — stage 1 of winnowing; null
    * text → null. Project this ONCE into a column and feed the attribute to
    * [[winnowFromGrams]]: inlining it re-expands the O(n·k) hash pass per
    * window element (O(n²·k) per row — a hang at 500-char docs). */
  def charGramHashes(text: Column, k: Int = 8): Column = {
    val n = normText(text)
    when(n.isNotNull, transform(
      sequence(lit(1), greatest(length(n) - (k - 1), lit(1))),
      i => graft.functions.Hash64.h64(substring(n, i, lit(k)))))
  }

  /** Winnowing (Schleimer et al., SIGMOD'03) stage 2: min hash of each
    * sliding window of `w` grams, deduped and sorted; null grams → null.
    * `grams` must be a materialized column attribute (see
    * [[charGramHashes]]). */
  def winnowFromGrams(grams: Column, w: Int = 16): Column = {
    val windows = when(size(grams) <= w, array(array_min(grams))).otherwise(
      array_distinct(transform(
        sequence(lit(0), size(grams) - w),
        j => array_min(slice(grams, j + 1, lit(w))))))
    when(grams.isNotNull, sort_array(windows))
  }

  /** Single-expression form (≡ `winnowKernel`) — only for short texts (the
    * unstaged tree is quadratic; see [[charGramHashes]]). */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 16): Column =
    winnowFromGrams(charGramHashes(text, k), w)
}
