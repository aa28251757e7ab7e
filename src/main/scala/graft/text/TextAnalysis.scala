package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline over a `documents`
 * corpus: language-ID, quality scoring, token counting, fingerprinting.
 *
 * Design rule: kernels in `src/main`, declarative references in
 * `src/test`. Where a per-document metric is cheaper as one JVM pass than
 * as a tree of built-in column functions (marker counts, quality
 * primitives, BPE token count, winnowing, repetition), the pass ships as a
 * `*Kernel` wrapped in a deterministic UDF, and its declarative twin — the
 * form the DuckDB oracle mirrors — lives in the test tree
 * (`TextReference`). A kernel ≡ reference spec pins each pair, null text
 * included (null text → null). The twins still kept here (`langId`,
 * `qualityScore`, `repetitionPrims`) are the ones
 * [[graft.operators.CurateConfig]]`.kernels = false` reaches. Everything
 * else is built from codegen'd built-in column functions, so it stays
 * inside whole-stage codegen. Integer counting uses the replace-trick
 * (`(len(s) - len(replace(s, t, ''))) / len(t)`), which has identical
 * semantics (non-overlapping, left-to-right) in every engine.
 *
 * Scale: all operators are embarrassingly parallel per-row projections —
 * no shuffle, no state — so they pipeline into whatever scan feeds them
 * and survive any scale-up linearly.
 */
object TextAnalysis {

  /** Non-overlapping occurrence count of literal `token` in `s`. */
  def countOcc(s: Column, token: String): Column =
    ((length(s) - length(replace(s, lit(token), lit("")))) / lit(token.length)).cast("long")

  /** Lowercased, whitespace-collapsed, trimmed text. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** normText wrapped in single spaces so ' word ' literals match at both ends. */
  def padded(text: Column): Column = concat(lit(" "), normText(text), lit(" "))

  // --- language ID (n-gram/stopword heuristic; SURVEY-class op) -----------

  /** Per-language marker words (surrounded by spaces when counted). The
    * heuristic is deliberately simple — the correctness contract is that the
    * DuckDB oracle computes the *identical* arithmetic, and the quality
    * contract (accuracy vs the corpus `lang` label) lives in the spec. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "una", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Score of one language = total marker-word occurrences over an
    * already-padded text column (see [[padded]]). Hot paths should project
    * the padded text ONCE and feed it here — `CollapseProject` keeps the
    * stages separate because the normalization is non-cheap and multiply
    * referenced, so codegen evaluates it once per row. */
  def langScoreFromPadded(pt: Column, lang: String): Column =
    langMarkers.toMap.apply(lang)
      .map(w => countOcc(pt, s" $w "))
      .reduce(_ + _)

  /** Convenience single-expression form (recomputes the normalization per
    * marker — fine for ad-hoc use, avoid in wide projections). */
  def langScore(text: Column, lang: String): Column =
    langScoreFromPadded(padded(text), lang)

  /** One-pass JVM mirror of K independent [[countOcc]] columns over the
    * PADDED normalized text (see [[padded]]): per-token non-overlapping
    * left-to-right counts with zero string allocation per token — each
    * declarative `countOcc` allocates a full `replace()`d copy of the
    * document per marker (20 copies/row in q21's 4-language scoring).
    * `indexOf` stepping by `tok.length` is exactly the replace-trick's
    * semantics (leftmost-first, non-overlapping). Parity is spec-pinned. */
  def markerCountsKernel(text: String, tokens: Array[String]): Array[Long] = {
    if (text == null) return null
    val pt = " " + normTextJvm(text) + " "
    val out = new Array[Long](tokens.length)
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      var c = 0L
      var idx = pt.indexOf(tok)
      while (idx >= 0) { c += 1; idx = pt.indexOf(tok, idx + tok.length) }
      out(t) = c
      t += 1
    }
    out
  }

  /** Column form of [[markerCountsKernel]] for a FIXED token list (the
    * tokens are captured in the UDF closure, already space-padded). */
  def markerCountsUdf(tokens: Array[String]): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => markerCountsKernel(s, tokens))

  /** argmax over precomputed per-language score columns with a fixed
    * priority order for ties — "und" when no marker fires at all. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val total = scores.map(_._2).reduce(_ + _)
    // flat greatest(), NOT a fold of nested CASEs: the max is the same, but
    // the fold form re-embeds the whole depth-(n-1) CASE tree into every
    // `s === best` arm of the argmax — one of the expression blowups that
    // pushed q54's fused annotate stage past janino's 64 KB method limit
    // and silently dropped it out of whole-stage codegen
    val best =
      if (scores.size == 1) scores.head._2
      else greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(total > 0 && s === best, lit(l)).otherwise(els)
    }
  }

  def langId(text: Column): Column =
    langIdFromScores(langMarkers.map { case (l, _) => l -> langScore(text, l) })

  // --- quality scoring ------------------------------------------------------

  /** Word count of the normalized text (0 for blank). */
  def wordCount(text: Column): Column = {
    val n = normText(text)
    when(n === "", lit(0L)).otherwise(countOcc(n, " ") + 1L)
  }

  /** Count of characters in `cls` (a regex char class body, e.g. "0-9"). */
  def charClassCount(text: Column, cls: String): Column =
    (length(text) - length(regexp_replace(text, s"[$cls]", ""))).cast("long")

  /** Stopword list shared by quality metrics (and their SQL oracle). */
  val qualityStopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is")

  /** One-pass JVM mirror of q22's INTEGER primitives —
    * (n_chars, n_words, punct, digits, upper, stop) — over one document:
    * the declarative reference (`TextReference.qualityColumns`) pays three
    * regexp_replace copies of the raw text (char classes), two
    * normalizations (word count, used twice) and seven replace copies of
    * the padded text (stopwords, also used twice). Every
    * downstream ratio stays a DECLARATIVE single IEEE division of these
    * integers ([[qualityColumnsFromPrims]]), so oracle arithmetic is
    * untouched. ASCII-safe corpus assumption as [[normTextJvm]]. Null text
    * → null. */
  def qualityPrimsKernel(text: String): Array[Long] = {
    if (text == null) return null
    var punct = 0L; var digits = 0L; var upper = 0L
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') punct += 1
      else if (c >= '0' && c <= '9') digits += 1
      else if (c >= 'A' && c <= 'Z') upper += 1
      i += 1
    }
    val nt = normTextJvm(text)
    val nWords = if (nt.isEmpty) 0L else {
      var sp = 0L; var j = 0
      while (j < nt.length) { if (nt.charAt(j) == ' ') sp += 1; j += 1 }
      sp + 1
    }
    val stop = markerCountsKernel(text, qualityStopTokens).sum
    Array(text.length.toLong, nWords, punct, digits, upper, stop)
  }

  private val qualityStopTokens: Array[String] =
    qualityStopwords.map(w => s" $w ").toArray

  val quality_prims_udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => qualityPrimsKernel(s))

  /** q22's quality features from a materialized [[qualityPrimsKernel]]
    * array column: every ratio is a single IEEE division of integer-derived
    * values, so the DuckDB oracle that mirrors the same arithmetic is
    * bit-identical — no round() fuzz needed. */
  def qualityColumnsFromPrims(p: Column): Seq[Column] = {
    val nChars = element_at(p, 1)
    val nWords = element_at(p, 2)
    val safeChars = greatest(nChars, lit(1L)).cast("double")
    val safeWords = greatest(nWords, lit(1L)).cast("double")
    Seq(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (element_at(p, 3).cast("double") / safeChars).as("punct_ratio"),
      (element_at(p, 4).cast("double") / safeChars).as("digit_ratio"),
      (element_at(p, 5).cast("double") / safeChars).as("upper_ratio"),
      (element_at(p, 6).cast("double") / safeWords).as("stopword_ratio"),
      (nChars.cast("double") / safeWords).as("avg_word_len"))
  }

  /** [[qualityScore]] from the primitives array — same closed form. */
  def qualityScoreFromPrims(p: Column): Column = {
    val nWords = element_at(p, 2).cast("double")
    val stop = element_at(p, 6).cast("double")
    val digits = element_at(p, 4).cast("double")
    val nChars = greatest(element_at(p, 1), lit(1L)).cast("double")
    val lenTerm = least(nWords / 100.0, lit(1.0))
    val stopTerm = least((stop * 5.0) / greatest(nWords, lit(1.0)), lit(1.0))
    val digitPenalty = lit(1.0) - least(digits * 3.0 / nChars, lit(1.0))
    lenTerm * 0.4 + stopTerm * 0.3 + digitPenalty * 0.3
  }

  /** Composite [0,1] quality score — monotone in word count, penalizes
    * digit/punct-heavy and stopword-free text. Same closed form in SQL. */
  def qualityScore(text: Column): Column = {
    val nWords = wordCount(text).cast("double")
    val stop = qualityStopwords
      .map(w => countOcc(padded(text), s" $w ")).reduce(_ + _).cast("double")
    val digits = charClassCount(text, "0-9").cast("double")
    val nChars = greatest(length(text).cast("long"), lit(1L)).cast("double")
    val lenTerm = least(nWords / 100.0, lit(1.0))
    val stopTerm = least((stop * 5.0) / greatest(nWords, lit(1.0)), lit(1.0))
    val digitPenalty = lit(1.0) - least(digits * 3.0 / nChars, lit(1.0))
    lenTerm * 0.4 + stopTerm * 0.3 + digitPenalty * 0.3
  }

  // --- corpus n-gram statistics ---------------------------------------------

  /**
   * Corpus-wide word-n-gram frequency table over `textCol` → (gram, cnt).
   * Tokenization is the shared [[normText]]-then-split-on-space rule, so the
   * counts have an exact DuckDB oracle (q64). The plan is what a vocabulary /
   * corpus-statistics pass wants at 100 TB: gram generation is row-local
   * (`transform` over token offsets + `explode` — no join, no UDF), and the
   * count is ONE hash-partitioned aggregate with map-side partials; a top-k
   * consumer composes `orderBy(...).limit(k)` on top, which Spark plans as
   * TakeOrdered (bounded per-partition heaps), never a full sort of the gram
   * table. Rows with fewer than n tokens (incl. null text) contribute none.
   */
  def ngramCounts(df: DataFrame, textCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    // STAGE the token array as a real column first: element_at(toks, …)
    // inside the transform lambda gets no CSE across lambda iterations, so
    // an inlined `toks` re-runs normalize+split per ELEMENT ACCESS — the
    // same pathology the excluded InferFiltersFromGenerate rule causes
    // (measured here: 6.4 s → 0.5 s at sf0.1 for 265k bigrams)
    val staged = df.select(split(normText(textCol), " ").as("toks"))
    val toks = col("toks")
    val grams =
      if (n == 1) toks
      else transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    // the when() guard keeps sequence() from seeing start > stop (Spark would
    // infer a NEGATIVE step and emit garbage grams for short rows)
    staged.select(explode(when(size(toks) >= n, grams).otherwise(array())).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Corpus-vocabulary OOV statistics — C4's "fraction of non-dictionary
   * words" quality gate, self-supervised: the dictionary IS the corpus's
   * own top-`vocabSize` unigrams. Per doc → (doc_id, n_tokens, n_oov,
   * oov_permille). Two passes over the token stream: (1) vocabulary =
   * top-vocabSize grams by count, ties broken by gram so the cut is
   * deterministic — planned as TakeOrdered (bounded per-partition heaps),
   * then BROADCAST (vocabSize-bounded by construction); (2) per-doc token
   * + OOV tally in ONE hash-partitioned aggregate. All-integer output
   * (permille = floored 1000·oov/tokens) ⇒ exact DuckDB oracle (q65). At
   * 100 TB the vocabulary pass runs once at ingest and persists; docs with
   * null text have no tokens and drop out.
   */
  def rareTokenStats(df: DataFrame, idCol: Column, textCol: Column, vocabSize: Int): DataFrame = {
    val toks = df.select(idCol.as("doc_id"), explode(split(normText(textCol), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("(1000 * n_oov) div n_tokens"))
  }

  /**
   * Source-level quality rollup — RefinedWeb-style DOMAIN filtering: junk
   * concentrates by origin, so gating on a source's MEAN quality removes
   * whole bad sources more robustly than per-doc thresholds alone (one
   * polished page on a content farm still goes). The mean is an exact
   * floored-integer permille: per-row floor(quality·1000) (the per-row
   * double is cross-engine identical — q22's contract — and floor/CAST are
   * exact), summed as integers (order-free), floored mean — a double mean
   * would hash-differ by summation order. ONE aggregate over the corpus.
   */
  def sourceQualityStats(df: DataFrame, srcCol: Column, textCol: Column): DataFrame = {
    val q = qualityScoreFromPrims(quality_prims_udf(textCol))
    df.select(srcCol.as("source"), floor(q * 1000).as("qpm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qpm")).as("qpm_sum"))
      .withColumn("avg_quality_permille", expr("qpm_sum div n_docs"))
  }

  /** Docs from sources whose mean quality clears `minAvgPermille` — the
    * gate shape: the surviving source list is tiny (≤ #sources) and
    * broadcast, so the corpus side never shuffles. */
  def filterLowQualitySources(
      df: DataFrame, srcCol: Column, textCol: Column, minAvgPermille: Long): DataFrame = {
    val keep = sourceQualityStats(df, srcCol, textCol)
      .filter(col("avg_quality_permille") >= minAvgPermille)
      .select(col("source").as("__keep_src"))
    df.join(broadcast(keep), srcCol === col("__keep_src"), "left_semi")
  }

  // --- token counting -------------------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = wordCount(text)

  /** BPE-ish pre-tokenizer count: letter runs, single digits, single
    * non-alnum glyphs — the GPT-2-style pre-split cardinality, a cheap
    * proxy for "how many tokens will the tokenizer emit": the match count
    * of the alternation `[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]`, which decomposes
    * exactly into
    * (maximal ASCII-letter runs) + (every other non-whitespace code
    * point), counted in a single scan with zero allocation —
    * `regexp_extract_all` materializes every match into an array just to
    * take its size, and its first use pays java.util.regex JIT (the
    * r4→r5 q23 bench anomaly: ~1 s of C2 warm-up landing inside one
    * query's timed window). Iterates CODE POINTS, not chars: Java regex
    * matches `[^…]` once per code point, so a surrogate-pair glyph is ONE
    * token. `\s` is Java's [ \t\n\x0B\f\r] — the semantics of the
    * declarative reference (`TextReference.bpeTokenCount`, the form the
    * q23 oracle mirrors). Parity is spec-pinned (PipelineSpec). */
  def bpeTokenCountKernel(text: String): java.lang.Long = {
    if (text == null) return null
    var i = 0
    var n = 0L
    var inLetterRun = false
    val len = text.length
    while (i < len) {
      val cp = text.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        if (!inLetterRun) { n += 1; inLetterRun = true }
      } else {
        inLetterRun = false
        val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r'
        if (!ws) n += 1 // a digit or any other glyph: one token each
      }
      i += Character.charCount(cp)
    }
    n
  }

  /** Column form of [[bpeTokenCountKernel]]. */
  val bpeTokenCountUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(bpeTokenCountKernel _)

  // --- PII detection / redaction -------------------------------------------

  /** PII patterns, deliberately restricted to the regex subset that Java's
    * `java.util.regex` and RE2 (DuckDB) compile to the SAME automaton —
    * character classes, bounded repetition, non-capturing groups, ASCII
    * `\b`/`\d` — so the DuckDB oracle evaluates the identical match set.
    * These are the C4/Dolma-style scrub targets: email addresses, dotted
    * IPv4 literals, and NANP-shaped `ddd-ddd-dddd` phone numbers. Redaction
    * order is fixed email → ip → phone; the email pattern can consume
    * digits and dots that the narrower patterns would otherwise see, so
    * running it first makes the composition order-insensitive for the
    * remaining two (they are mutually disjoint: one requires dots between
    * digit groups, the other dashes). */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Per-row PII match counts `(n_emails, n_ipv4, n_phones)` — codegen'd
    * `RegExpCount`, a pure projection: no shuffle, no UDF, the compiled
    * pattern is reused across the partition by Catalyst's regexp cache.
    * At 100 TB this runs beside lang-ID/quality in the same annotate scan. */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).cast("long").as("n_emails"),
    regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ipv4"),
    regexp_count(text, lit(PhoneRe)).cast("long").as("n_phones"))

  /** PII scrub: replace every match with a typed sentinel token (the
    * downstream tokenizer sees ONE vocabulary item per PII class instead of
    * memorizable strings). Same pattern set and order as [[piiCounts]]. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))

  // --- fingerprinting -------------------------------------------------------

  /** Content fingerprint: md5 of the normalized text — the exact-dedup key. */
  def fingerprintMd5(text: Column): Column = md5(normText(text))

  /** EXACT [[normText]] mirror for JVM kernel paths: lower, \s+ → ' ', trim
    * (corpus is ASCII-safe; both engines' lower() agree on the full BMP
    * anyway for our fixtures). Parity with the column form is asserted by
    * every kernel ≡ declarative spec that goes through it. */
  def normTextJvm(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim

  /** Winnowing (Schleimer et al., SIGMOD'03) JVM kernel: md5-derived char
    * k-gram hashes of the normalized text, then the deduped, sorted min
    * hash of each sliding window of `w` grams (one window — the min of all
    * grams — when there are at most `w`). One pass over the chars, a
    * monotonic deque for the sliding-window min (O(n) amortized instead of
    * O(n·w) slice/array_min trees) and md5 hashed straight from the char
    * buffer: ~50x cheaper than the declarative higher-order form
    * (`TextReference.winnowingFingerprints`, which the q35 oracle
    * mirrors), whose interpreted `transform`/`slice` chain costs ~50
    * ms/doc. Null text → null fingerprints. Parity is spec-pinned. */
  def winnowKernel(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    if (text == null) return null
    val nt = normTextJvm(text)
    val nGrams = math.max(nt.length - (k - 1), 1)
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      grams(i) = graft.functions.Hash64.h64Jvm(
        nt.substring(i, math.min(i + k, nt.length)))
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    if (nGrams <= w) {
      var m = Long.MaxValue
      i = 0
      while (i < nGrams) { if (grams(i) < m) m = grams(i); i += 1 }
      out.add(m)
    } else {
      // monotonic deque sliding-window minimum
      val dq = new java.util.ArrayDeque[Int]()
      i = 0
      while (i < nGrams) {
        while (!dq.isEmpty && grams(dq.peekLast) >= grams(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst <= i - w) dq.pollFirst()
        if (i >= w - 1) out.add(grams(dq.peekFirst))
        i += 1
      }
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    res
  }

  /** Column form of [[winnowKernel]] (deterministic UDF). */
  val winnow_udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => winnowKernel(s))

  // --- repetition signals (Gopher-style quality filters) ---------------------

  /** Repetition primitives over the normalized token stream — the raw
    * INTEGER counts behind the Gopher-family repetition filters (fraction
    * of tokens in the top unigram / top bigram, fraction of bigram
    * occurrences that are duplicates). Machine-generated and boilerplate
    * web text scores high on these; a curation pipeline thresholds them
    * right after language-ID. Emitting counts (ratios are computed as one
    * int-derived IEEE division at the query layer) keeps the cross-engine
    * contract exact.
    *
    * Returns [n_tokens, top_unigram, n_bigrams, top_bigram,
    * dup_bigram_occ]; null text → null (matches the declarative twin's
    * null propagation). One pass, one HashMap per row, no explode — at
    * corpus scale this is a row-local projection with NO shuffle, where
    * the explode+groupBy form would shuffle one row per token. */
  def repetitionPrimsKernel(text: String): Array[Long] = {
    if (text == null) return null
    val nt = normTextJvm(text)
    if (nt.isEmpty) return Array(0L, 0L, 0L, 0L, 0L)
    val toks = nt.split(' ')
    val uni = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < toks.length) { uni.merge(toks(i), 1L, _ + _); i += 1 }
    var topUni = 0L
    uni.values.forEach(v => if (v > topUni) topUni = v)
    val nBi = toks.length - 1
    var topBi = 0L
    var dup = 0L
    if (nBi > 0) {
      val bi = new java.util.HashMap[String, Long]()
      i = 0
      while (i < nBi) { bi.merge(toks(i) + " " + toks(i + 1), 1L, _ + _); i += 1 }
      bi.values.forEach { v =>
        if (v > topBi) topBi = v
        if (v >= 2) dup += v
      }
    }
    Array(toks.length.toLong, topUni, math.max(nBi, 0).toLong, topBi, dup)
  }

  /** Column form of [[repetitionPrimsKernel]] (deterministic UDF). */
  val repetition_prims_udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => repetitionPrimsKernel(s))

  /** Declarative twin of [[repetitionPrimsKernel]] — row-local higher-order
    * functions over the token array, quadratic per row (count-per-distinct
    * re-scans the array), which is exactly the shape the DuckDB oracle
    * mirrors. The kernel is the production path; parity is spec-pinned. */
  def repetitionPrims(text: Column): Column = {
    val t = split(normText(text), " ")
    val nTokens = when(length(normText(text)) === 0, lit(0)).otherwise(size(t))
    def topCount(arr: Column): Column =
      coalesce(
        array_max(transform(array_distinct(arr),
          u => size(filter(arr, x => x === u)).cast("long"))),
        lit(0L))
    val bg = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
    val dupOcc = coalesce(
      aggregate(
        transform(array_distinct(bg), g => size(filter(bg, x => x === g)).cast("long")),
        lit(0L),
        (acc, c) => acc + when(c >= 2, c).otherwise(lit(0L))),
      lit(0L))
    when(text.isNull, lit(null))
      .otherwise(array(
        nTokens.cast("long"),
        when(nTokens === 0, lit(0L)).otherwise(topCount(t)),
        size(bg).cast("long"),
        topCount(bg),
        dupOcc))
  }
}
