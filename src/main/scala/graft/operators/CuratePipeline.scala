package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DupClusters}
import graft.text.TextAnalysis

/** Thresholds and knobs for [[CuratePipeline.curate]]. Defaults are the
  * customary web-corpus starting points; every boundary comparison is on a
  * value both engines compute bit-identically (kernel parity + the single
  * int-derived-IEEE-division float rule), so threshold semantics are exact
  * — no epsilon, no boundary flapping between engines. */
final case class CurateConfig(
    /** Scrub PII (email/IPv4/phone → typed sentinels, the q58 operator)
      * BEFORE annotation and dedup — the production ordering: two pages
      * identical up to their PII must collide in the exact-dedup
      * fingerprint, which they only do post-redaction. Off by default (the
      * q54 oracle covers the scrub-less composition). */
    redactPii: Boolean = false,
    dropUnknownLang: Boolean = true,
    minQuality: Double = 0.5,
    maxTopUnigramFrac: Double = 0.5,
    maxDupBigramFrac: Double = 0.6,
    minhashK: Int = 32,
    minhashBands: Int = 8,
    minJaccard: Double = 0.5,
    splits: Seq[(String, Int)] = Seq(("train", 980), ("valid", 990), ("test", 1000)),
    splitSeed: Long = 0L,
    /** `false` swaps the one-call annotate-and-gate kernel and the
      * minhash signature kernel for their declarative twins (identical
      * values, spec-pinned; only slower). No query or bench of this repository sets
      * it; it stays only because perfbench's restated curate stages
      * (`CurateBench.stages`) compile against it. */
    kernels: Boolean = true,
    /** Opt-in corpus-vocabulary OOV gate (the q65 operator): drop docs
      * whose out-of-vocabulary token rate exceeds this permille, with the
      * vocabulary self-supervised from the surviving corpus's own
      * top-[[oovVocabSize]] unigrams. Runs after the row-local gates and
      * decontamination (they shrink the token stream it scans) and before
      * dedup (so gibberish can't become a cluster representative). None =
      * off — the q54 oracle covers the gate-less composition. When on, a
      * doc with no tokens (null text, for one) has no OOV rate and is
      * DROPPED whatever the threshold; with the gate off it passes. */
    maxOovPermille: Option[Int] = None,
    oovVocabSize: Int = 4096)

/**
 * End-to-end training-data curation: the composition a corpus pipeline
 * actually runs, as ONE operator —
 *
 *   annotate + gate (lang-ID, quality,        — one kernel call per document
 *     repetition thresholds)                    (`TextAnalysis.annotateKernel`)
 *   → exact dedup (min doc_id per md5)        — one hash aggregate
 *   → near-dup removal                        — MinHash+LSH pairs → CC →
 *                                               keep one per cluster
 *   → train/valid/test hash split             — row-local projection
 *
 * Scale shape: everything before exact dedup is a single narrow stage: a
 * Filter on the gate's `keep` field, then a Project that reads `lang_id`
 * and `quality` from the same call, so the kernel runs at most twice per
 * document. The first shuffle is the dedup aggregate over the FILTERED
 * corpus (quality gates run before dedup precisely because they shrink the
 * expensive stages' input); near-dup discovery is the bounded-bucket LSH
 * path (never all-pairs) and cluster resolution is O(log n)-round large-
 * star/small-star. The split is assigned AFTER dedup so no near-duplicate
 * pair can straddle train/test — the leakage a curation pipeline exists to
 * prevent.
 *
 * Why the gate is ONE opaque predicate: Catalyst's predicate pushdown
 * (`PushPredicateThroughNonJoin`) moves a Filter below the Projects that
 * define its columns and inlines their aliases into the condition. Staging
 * the annotation as separate Projects keeps CollapseProject from
 * duplicating a kernel in a Project, but nothing stops the pushdown from
 * doing it in the Filter: a gate over staged `lang_id`/`quality`/`rp`
 * columns became a Filter holding 189 kernel UDF calls per row. A gate
 * that reads one boolean field of one UDF call inlines exactly one call.
 * PlanShapeSpec guards it.
 *
 * Every stage reuses the oracle-checked operator (q21/q22/q53/q25/q27/q52/
 * q51 contracts), so the whole composition has an exact DuckDB mirror
 * (q54).
 */
object CuratePipeline {

  /** The gate's per-document result: the annotations curate outputs and
    * whether the document passes every threshold. */
  private[graft] final case class Gate(lang_id: String, quality: Double, keep: Boolean)

  /** [[TextAnalysis.annotateKernel]] and `cfg`'s thresholds as one
    * deterministic UDF returning `struct(lang_id, quality, keep)`. `keep`
    * is the declarative gate's predicate, value for value: null text has
    * null repetition primitives, so it never passes. */
  private[graft] def gateUdf(cfg: CurateConfig): UserDefinedFunction = {
    val dropUnknownLang = cfg.dropUnknownLang
    val minQuality = cfg.minQuality
    val maxTopUnigramFrac = cfg.maxTopUnigramFrac
    val maxDupBigramFrac = cfg.maxDupBigramFrac
    udf { (text: String) =>
      val a = TextAnalysis.annotateKernel(text)
      val rp = a.repetition
      Gate(a.langId, a.quality,
        (!dropUnknownLang || a.langId != "und") &&
          a.quality >= minQuality &&
          rp != null &&
          rp(1).toDouble / math.max(rp(0), 1L).toDouble <= maxTopUnigramFrac &&
          rp(4).toDouble / math.max(rp(2), 1L).toDouble <= maxDupBigramFrac)
    }
  }

  /** The declarative branch (`kernels = false`): (lang_id, quality, rep
    * prims) as built-in column trees, the forms the oracles mirror. */
  private def annotate(docs: DataFrame): DataFrame =
    docs.withColumn("lang_id", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("rp", TextAnalysis.repetitionPrims(col("text")))

  private def repFrac(countIdx: Int, denomIdx: Int): Column =
    element_at(col("rp"), countIdx).cast("double") /
      greatest(element_at(col("rp"), denomIdx), lit(1L))

  /** Runs the full pipeline over `docs(doc_id, text, ...)`. Returns one row
    * per SURVIVING document: (doc_id, lang_id, quality, split).
    *
    * `bench`: optional eval/benchmark corpus — when present, a
    * DECONTAMINATION stage ([[Dedup.decontaminate]], the q55 operator)
    * drops every doc sharing a word-n-gram shingle with any bench doc. It
    * runs right after the threshold filter (the row-local gates shrink its
    * shingle build for free) and before dedup/split, so a leaking doc can
    * neither become a dedup representative nor reach a split. Off by
    * default — q54's end-to-end oracle covers the bench-less composition.
    *
    * Cache contract: rides [[DupClusters.dedupByPairs]]' pinned loser set
    * (small — one row per clustered doc); release via the session cache
    * when done, as the bench harness does. */
  def curate(
      docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      bench: Option[DataFrame] = None): DataFrame = {
    // PII scrub first (row-local, fuses into the annotate projection): all
    // downstream signals — fingerprints, shingles, quality — see the
    // sentinel tokens, never the memorizable strings
    val input =
      if (cfg.redactPii) docs.withColumn("text", TextAnalysis.redactPii(col("text")))
      else docs
    // transient pin: the annotated+filtered frame has TWO consumers (the
    // dedup aggregate and the semi-join's probe side) — unpinned, the
    // annotation kernel would run over the full corpus twice, the most
    // expensive recompute in the pipeline. Released once the smaller
    // post-dedup frame is forced.
    val gated =
      if (cfg.kernels) input
        .withColumn("__gate", gateUdf(cfg)(col("text")))
        .filter(col("__gate.keep"))
        .withColumn("lang_id", col("__gate.lang_id"))
        .withColumn("quality", col("__gate.quality"))
        .drop("__gate")
      else annotate(input).filter(
        (lit(!cfg.dropUnknownLang) || col("lang_id") =!= "und") &&
        col("quality") >= cfg.minQuality &&
        repFrac(2, 1) <= cfg.maxTopUnigramFrac &&
        repFrac(5, 3) <= cfg.maxDupBigramFrac)
    // with a bench set, the gated frame gets a transient pin of its own:
    // the q55 operator reads its train side twice and the anti-join reads
    // it again — unpinned, each read re-runs the annotate kernel
    val gatedPin = bench.map(_ => gated.persist())
    val filtered = bench.fold(gated) { b =>
      // anti-join against the contaminated id set: ≤|gated| rows, built
      // from one explode + the broadcast bench-shingle join (q55's shape)
      val g = gatedPin.get
      val dirty = Dedup.decontaminate(g, b)
        .filter(col("contaminated")).select(col("doc_id"))
      g.join(dirty, Seq("doc_id"), "left_anti")
    }.persist()

    // opt-in OOV gate: two passes over the PINNED filtered frame (vocab
    // build = TakeOrdered + broadcast; per-doc tally = one aggregate), then
    // a semi-join keep — all consumers read the pin, never re-annotate.
    // Token-less docs yield no stats row, so the semi-join drops them
    // (documented on CurateConfig.maxOovPermille)
    val vocabGated = cfg.maxOovPermille.fold(filtered) { thr =>
      val keep = TextAnalysis.rareTokenStats(
          filtered, col("doc_id"), col("text"), cfg.oovVocabSize)
        .filter(col("oov_permille") <= thr).select("doc_id")
      filtered.join(keep, Seq("doc_id"), "left_semi")
    }

    // exact dedup: ONE aggregate keyed by the content fingerprint (map-side
    // partial min collapses per-partition duplicate groups pre-shuffle),
    // then a semi-join shaped re-attach of the surviving rows
    val keepIds = vocabGated
      .groupBy(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // pinned + forced: four consumers read this frame (signature build,
    // shingle verification, the survivor anti-join's doc side, the final
    // projection) — unpinned, each would re-run the kernel annotate +
    // filter + dedup aggregate from the scan. Same caller-release contract
    // as dupClusters (the bench harness clearCache()s between queries).
    val exact = vocabGated.join(keepIds, Seq("doc_id"), "left_semi").persist()
    exact.count()
    filtered.unpersist()
    gatedPin.foreach(_.unpersist())

    val pairs = Dedup.minhashNearDupPairs(
      exact, cfg.minhashK, cfg.minhashBands, cfg.minJaccard, kernel = cfg.kernels)
    val survivors = DupClusters.dedupByPairs(exact, pairs)

    StratifiedSample.hashSplit(survivors, col("doc_id"), cfg.splits, cfg.splitSeed)
      .select(col("doc_id"), col("lang_id"), col("quality"), col("split"))
  }
}
