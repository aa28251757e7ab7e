package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/**
 * The hash family the hash-based dedup operators (minhash, LSH banding,
 * simhash) are parameterized over:
 *
 *   - `base`: string column → single hash column (band hashing, simhash);
 *   - `seed`: string column → the k-family seed column (digested ONCE per
 *     input — the k-way expansion never re-digests the string);
 *   - `permute(seed, i)`: the i-th derived hash of a seed column.
 *
 * [[DedupHasher.crossEngine]] is md5-derived ([[graft.functions.Hash64]])
 * so every pipeline stage has an exact DuckDB oracle; its k-family is
 * Kirsch–Mitzenmacher double hashing over a two-digest seed (see
 * [[graft.functions.Hash64.permutePair]] for why one digest is not
 * enough). At the 100 TB design point [[DedupHasher.production]] swaps in
 * xxhash64 (codegen'd, ~10x cheaper, no oracle) without touching operator
 * logic — equivalence of the two wirings (same pipeline shape, different
 * hash values) is asserted by PipelineSpec.
 */
final case class DedupHasher(
    base: Column => Column,
    seed: Column => Column,
    permute: (Column, Int) => Column,
    /** JVM mirror of `base` for kernel paths (one-pass per-document loops
      * that hash inside the kernel instead of exploding rows) — must be
      * bit-identical to the column form; asserted by PipelineSpec. */
    baseJvm: String => Long,
    /** JVM mirror of `seed`: the (h1, h2) digest pair (h2 unused by
      * single-digest families). Bit-identical to the column form. */
    seedJvm: String => (Long, Long),
    /** JVM mirror of `permute` over a [[seedJvm]] pair. */
    permuteJvm: (Long, Long, Int) => Long)

object DedupHasher {
  import graft.functions.Hash64

  /** md5-derived, DuckDB-mirrorable (the oracle default): seed carries two
    * independent digests h1 = h64(s), h2 = h64("2#" ++ s); hash_i is the
    * KM combination (h1 + i·h2) mod 2^60. */
  val crossEngine: DedupHasher = DedupHasher(
    base = Hash64.h64,
    seed = c => struct(
      Hash64.h64(c).as("h1"),
      Hash64.h64(concat(lit(Hash64.Km2Prefix), c)).as("h2")),
    permute = (s, i) => Hash64.permutePair(s.getField("h1"), s.getField("h2"), i),
    baseJvm = Hash64.h64Jvm,
    seedJvm = s => (Hash64.h64Jvm(s), Hash64.h64Jvm(Hash64.Km2Prefix + s)),
    permuteJvm = Hash64.permutePairJvm)

  /** xxhash64-based production family: one xxhash64 digest, permutations by
    * re-mixing the LONG with the permutation index (cheap, codegen'd —
    * xxhash64 over (long, int) is a handful of multiplies, not a digest). */
  val production: DedupHasher = DedupHasher(
    base = c => xxhash64(c),
    seed = c => xxhash64(c),
    permute = (h, i) => if (i == 0) h else xxhash64(h, lit(i)),
    // Spark's xxhash64 = XXH64(utf8 bytes, seed 42) — the public static
    // entry point computes the identical value on a JVM String
    baseJvm = DedupHasher.xxString,
    seedJvm = s => (DedupHasher.xxString(s), 0L),
    // mirror of xxhash64(h: long, lit(i): int): HashExpression folds the
    // children left-to-right, each child hashed with the running result as
    // its seed
    permuteJvm = (h, _, i) =>
      if (i == 0) h
      else {
        import org.apache.spark.sql.catalyst.expressions.XxHash64Function
        import org.apache.spark.sql.types.{IntegerType, LongType}
        XxHash64Function.hash(i, IntegerType,
          XxHash64Function.hash(h, LongType, 42L))
      })

  /** Spark-exact xxhash64 of a JVM string (UTF8 bytes, seed 42). */
  def xxString(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)
}

/**
 * Deduplication operators for a large-scale training-data pipeline:
 *
 *   - exact:       hash-groupBy on a content fingerprint (md5 of normalized
 *                  text) — one shuffle keyed by the digest;
 *   - n-gram Jaccard: all-pairs within a blocking key, set similarity over
 *                  distinct word 3-grams;
 *   - MinHash+LSH: shingle → k-permutation min-hash signature → banded
 *                  bucket join → candidate pairs → exact-Jaccard verify;
 *   - SimHash:     64-bit sign-of-weighted-sum sketch + pigeonhole chunk
 *                  join for hamming-distance ≤ d pairs.
 *
 * Scale notes (the 100 TB story):
 *   - exact dedup is a single hash-partitioned aggregate — map-side partial
 *     aggregation collapses per-partition duplicates before the shuffle;
 *   - MinHash signatures are built by explode + groupBy(doc) with k `min`
 *     aggregates: partial aggregation makes the shuffle carry one row per
 *     (doc, partial-mins), never one row per shingle;
 *   - the LSH bucket join shuffles on (band_idx, band_hash) — bucket sizes
 *     are bounded w.h.p.; a `bucketCap` guard drops degenerate buckets
 *     (e.g. the all-empty-text bucket) the way production pipelines do;
 *   - only candidate pairs (tiny vs n²) ever join back to full shingle sets
 *     for verification.
 */
object Dedup {

  /** Distinct word n-gram shingles over ALREADY-MATERIALIZED token-array and
    * norm-text attribute columns (see [[withShingles]]). Documents with
    * fewer than `n` words contribute their whole text as one shingle. */
  def shinglesOf(toks: Column, nt: Column, n: Int = 3): Column = {
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array(nt))
    array_distinct(grams)
  }

  /** (idCol, keep..., sh) with the shingle set computed through a STAGED
    * projection: the normalized text and its token array materialize as real
    * columns first, so the n `element_at`s per shingle inside the transform
    * lambda read an attribute instead of re-running the whole
    * `split(regexp_replace(lower(text)))` tree per reference —
    * CollapseProject leaves multi-referenced non-cheap projections staged
    * (the same discipline as q21's language-ID scoring). Measured: the
    * inlined form re-normalized each document ~3x per shingle and dominated
    * q26/q27 wall time. */
  def withShingles(
      docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil, n: Int = 3): DataFrame = {
    val head = col(idCol) +: keep.map(col)
    docs.select(head :+ TextAnalysis.normText(col(textCol)).as("__nt"): _*)
      .withColumn("__toks", split(col("__nt"), " "))
      .select(head :+ shinglesOf(col("__toks"), col("__nt"), n).as("sh"): _*)
  }

  // --- exact dedup ----------------------------------------------------------

  /** Duplicate groups by exact normalized content: one row per distinct
    * content that appears >1 times, with the representative (min id) and
    * the full sorted member list. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"),
        sort_array(collect_list(col(idCol))).as("member_ids"))
      .filter(col("n_dups") > 1)

  /** The kept corpus after exact dedup: lowest id per distinct content. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = docs
      .select(col(idCol), TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // --- n-gram Jaccard (all-pairs within a blocking key) ---------------------

  /** Pairwise Jaccard over distinct word n-grams for documents sharing
    * `blockCol` (blocking bounds the pair explosion; at web scale the block
    * is a cheap cluster key — source, LSH bucket, length bucket…).
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ minJ.
    *
    * `blockCap` bounds the quadratic term: a block with more than
    * `blockCap` documents is DROPPED from the pair join — all-pairs is the
    * verification primitive, and a degenerate block (adversarial
    * all-identical junk; q27's LSH `bucketCap` is the same guard one stage
    * earlier) would re-create the n² scan blocking exists to prevent.
    * Truncation is OPT-IN: the default (`Int.MaxValue`) drops nothing, so a
    * caller's result set never shrinks because a default changed under it —
    * scale-sensitive call sites pass an explicit cap as a visible decision
    * (q26 does), and surface the [[blockStats]] census next to the pairs
    * (q43) so a dropped block is never silent. Unblocked discovery at scale
    * is minhash/simhash. */
  def ngramJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      minJ: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      blockCap: Int = Int.MaxValue): DataFrame = {
    val withSh = withShingles(docs, idCol, textCol, keep = Seq(blockCol))
    val capped =
      if (blockCap == Int.MaxValue) withSh // uncapped: no census aggregate, no semi join
      else withSh.join(
        docs.groupBy(col(blockCol))
          .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") <= blockCap).drop("n_docs"),
        Seq(blockCol), "left_semi")
    val a = capped.select(col(blockCol), col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = capped.select(col(blockCol), col(idCol).as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val unionSz = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      // single int-derived IEEE division — bit-identical in the SQL oracle
      .withColumn("jaccard", inter / greatest(unionSz, lit(1.0)))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Census of [[ngramJaccardPairs]]' blocking key: one row per block with
    * its document count and whether `blockCap` excluded it from the pair
    * join — truncation must be visible, never silent. */
  def blockStats(
      docs: DataFrame,
      blockCol: String,
      blockCap: Int,
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(blockCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("truncated", col("n_docs") > blockCap)

  // --- MinHash + LSH --------------------------------------------------------

  /** MinHash signature: sig_i = min over shingles of permute_i(seed(shingle))
    * — the shingle string is digested ONCE (round 2 measured
    * k-digests-per-shingle as a 2.6x pipeline regression), the k permutation
    * values derive from the seed by cheap arithmetic (KM double hashing for
    * the cross-engine family), built distributed via explode + k-way min
    * aggregate (partial agg makes the shuffle O(docs), not O(shingles)).
    * Output: (id, sig array<long>). */
  def minhashSignatures(
      docs: DataFrame, k: Int, idCol: String = "doc_id", textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    // Null text yields NO signature row — the pinned semantics of both this
    // form and the JVM kernel (the base-column filter is cheap and pushed;
    // without it explode_outer would emit an all-null signature here while
    // the kernel dropped the row — a silent parity break on null-bearing
    // corpora).
    // explode_OUTER, deliberately: `sh` is non-empty by construction (the
    // short-doc branch emits the whole text as one shingle), so outer ≡
    // inner here — but inner explode triggers InferFiltersFromGenerate,
    // whose `size(sh) > 0` predicate gets pushed below the staged
    // projections and re-inlines the whole shingle tree into a Filter
    // (measured: the re-expanded lambda re-ran the normalization regex per
    // element_at and cost ~6s of q27's sf0.1 wall — more than every hash).
    val exploded = withShingles(docs.filter(col(textCol).isNotNull), idCol, textCol)
      .select(col(idCol), explode_outer(col("sh")).as("sh1"))
      .withColumn("h", hasher.seed(col("sh1")))
    val minCols = (0 until k).map(i => min(hasher.permute(col("h"), i)).as(s"m$i"))
    exploded.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** JVM minhash-signature kernel — same values as [[minhashSignatures]]
    * (min over a multiset ≡ min over its distinct set, so the declarative
    * form's `array_distinct` needs no mirroring), one pass per document:
    * shingle → seed digests → k permutation values folded straight into a
    * k-long min array. The explode+agg form pays per SHINGLE a generated
    * row plus k aggregation-buffer updates through UnsafeRow; the kernel
    * pays the same hashes into a stack array. Parity asserted by
    * PipelineSpec for both hasher families. */
  def minhashSigKernel(
      text: String, k: Int, n: Int,
      seedJvm: String => (Long, Long),
      permuteJvm: (Long, Long, Int) => Long): Array[Long] = {
    val nt = TextAnalysis.normTextJvm(text)
    val toks = nt.split(" ", -1)
    val mins = Array.fill(k)(Long.MaxValue)
    def accumulate(sh: String): Unit = {
      val (h1, h2) = seedJvm(sh)
      var i = 0
      while (i < k) {
        val v = permuteJvm(h1, h2, i)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        accumulate(sb.toString)
        s += 1
      }
    } else accumulate(nt)
    mins
  }

  /** Column form of [[minhashSigKernel]]: (id, sig) — same output as
    * [[minhashSignatures]]. Null text drops the row in BOTH forms (the
    * declarative form filters the base column before shingling) —
    * parity-pinned by PipelineSpec on a null-bearing corpus. */
  def minhashSignaturesKernel(
      docs: DataFrame, k: Int, idCol: String = "doc_id", textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine, n: Int = 3): DataFrame = {
    val seedJvm = hasher.seedJvm
    val permuteJvm = hasher.permuteJvm
    val f = udf((s: String) => minhashSigKernel(s, k, n, seedJvm, permuteJvm))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), f(col(textCol)).as("sig"))
  }

  /** LSH banding: candidate pairs = docs agreeing on at least one band of
    * `rowsPerBand` consecutive signature slots. Distinct (id_a < id_b).
    *
    * The `distinct()` here is NOT replaceable by simhash's first-agreeing-
    * chunk emission (q28's dedup-free join): that trick requires "first
    * agreeing band" to be a pure function of the two rows, but `bucketCap`
    * drops overcrowded buckets GLOBALLY — a pair whose first agreeing band
    * was capped must still be emitted by a later surviving band, and
    * survival is not row-locally computable. The distinct's input is the
    * candidate set (already bucket-capped, ≪ n²), so the shuffle it pays
    * is bounded by design. */
  /** (id, band_idx, band_hash) banding projection shared by the full and
    * incremental candidate finders. */
  private def bandedSigs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      idCol: String, hasher: DedupHasher): DataFrame =
    sigs.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hasher.base(concat(b.cast("string"), lit("|"),
          concat_ws(",", transform(
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")))))))
        .as(Seq("band_idx", "band_hash")))

  def lshCandidatePairs(
      sigs: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      idCol: String = "doc_id",
      bucketCap: Int = 1000,
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    val banded = bandedSigs(sigs, bands, rowsPerBand, idCol, hasher)
    // guard: drop degenerate buckets (all-identical junk content) that would
    // quadratically explode the self-join — production LSH pipelines cap too
    val capped = banded.join(
      banded.groupBy("band_idx", "band_hash").count().filter(col("count") <= bucketCap)
        .drop("count"),
      Seq("band_idx", "band_hash"), "left_semi")
    capped.as("x").join(capped.as("y"), Seq("band_idx", "band_hash"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /**
   * Incremental candidate pairs — the INGEST-TIME shape: find candidates
   * between a NEW batch's signatures and the already-indexed corpus
   * without re-pairing old×old (those pairs were found when the old docs
   * were ingested). Emits exactly the candidate pairs a full run over
   * old ∪ new would emit that touch a new doc: the bucketCap counts the
   * UNION's bucket population, exactly like the full run, so
   * incremental ≡ full-filtered holds even at capped buckets
   * (spec-pinned). At the design point the old side's banded form is the
   * stored index — partitioned by band hash, so the new batch's buckets
   * hash-prune the scan and a day's ingest costs O(|new| + matched
   * buckets), never a corpus-wide re-pairing.
   */
  def incrementalCandidatePairs(
      newSigs: DataFrame,
      oldSigs: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      idCol: String = "doc_id",
      bucketCap: Int = 1000,
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    val bNew = bandedSigs(newSigs, bands, rowsPerBand, idCol, hasher)
      .withColumn("is_new", lit(true))
    val bOld = bandedSigs(oldSigs, bands, rowsPerBand, idCol, hasher)
      .withColumn("is_new", lit(false))
    val all = bOld.unionByName(bNew)
    val okBuckets = all.groupBy("band_idx", "band_hash").count()
      .filter(col("count") <= bucketCap).drop("count")
    val cappedAll = all.join(okBuckets, Seq("band_idx", "band_hash"), "left_semi")
    val cappedNew = bNew.join(okBuckets, Seq("band_idx", "band_hash"), "left_semi")
    cappedNew.as("x").join(cappedAll.as("y"), Seq("band_idx", "band_hash"))
      .filter(col("x.id") =!= col("y.id"))
      // new×new meets itself in both orientations — keep one; new×old only
      // ever appears with x = new, so it passes unconditionally
      .filter(!col("y.is_new") || col("x.id") < col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
  }

  /** Full MinHash near-dup pipeline: signatures → LSH candidates → exact
    * Jaccard verification over true shingle sets. `kernel = true` builds
    * the signatures through [[minhashSignaturesKernel]] instead of the
    * declarative [[minhashSignatures]] (identical values, spec-pinned);
    * every query passes it. The switch stays only because perfbench's
    * restated curate stages compile against it. */
  def minhashNearDupPairs(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      minJ: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine,
      kernel: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must divide into bands evenly")
    val sigs = if (kernel) minhashSignaturesKernel(docs, k, idCol, textCol, hasher)
               else minhashSignatures(docs, k, idCol, textCol, hasher)
    val cands = lshCandidatePairs(sigs, bands, k / bands, idCol, hasher = hasher)
    verifyJaccard(cands, docs, minJ, idCol, textCol)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * true shingle sets — the shared tail of the full and incremental
    * pipelines. Single int-derived IEEE division, no round(): bit-identical
    * cross-engine. */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame, minJ: Double,
      idCol: String, textCol: String): DataFrame = {
    val sh = withShingles(docs, idCol, textCol)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val unionSz = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", inter / greatest(unionSz, lit(1.0)))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Incremental MinHash near-dup — [[minhashNearDupPairs]]'s ingest-time
   * sibling: verified pairs between `newDocs` and the indexed corpus
   * (new×old and new×new; never old×old). ≡ the full pipeline over
   * old ∪ new restricted to pairs touching a new doc (spec-pinned,
   * bucketCap included — see [[incrementalCandidatePairs]]). Signatures
   * come from [[minhashSignaturesKernel]] (≡ [[minhashSignatures]],
   * spec-pinned for both hasher families).
   *
   * Precondition, not checked: the `idCol` values of `oldDocs` and
   * `newDocs` are disjoint. Verification joins shingles from old ∪ new by
   * id, so an id on both sides yields duplicated or wrong pairs. The
   * ingest caller assigns ids and owns this guarantee.
   */
  def incrementalNearDupPairs(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      minJ: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    require(k % bands == 0, "k must divide into bands evenly")
    def sigsOf(d: DataFrame) = minhashSignaturesKernel(d, k, idCol, textCol, hasher)
    val cands = incrementalCandidatePairs(sigsOf(newDocs), sigsOf(oldDocs),
      bands, k / bands, idCol, hasher = hasher)
    verifyJaccard(cands, oldDocs.unionByName(newDocs), minJ, idCol, textCol)
  }

  // --- SimHash --------------------------------------------------------------

  /** SimHash bit width: 60, not 64 — the sketch bits come from the
    * cross-engine [[graft.functions.Hash64]] (60-bit by construction), and
    * 60 bits keeps the packed sketch positive in both engines' signed i64,
    * so chunking/XOR/bit_count agree exactly. Detection quality at ≤3-bit
    * hamming distance is indistinguishable from 64 bits. */
  val SimhashBits = 60

  /** SimHash over word tokens: bit j of the sketch is the sign of
    * Σ_tokens (±1 by bit j of hash(token)). One tight pass per document:
    * no row fanout, no 60-column aggregation buffer, no shuffle at all for
    * the sketch build. The declarative reference
    * (`DedupReference.simhash64`, explode + 60 sum aggregates — the form the
    * q28 oracle mirrors) pays per TOKEN a generated output row, a hash-map
    * probe and 60 UnsafeRow buffer updates; the kernel pays one hash and a
    * 60-int loop on a stack array. Bit-identical to the reference for both
    * hasher families (PipelineSpec). Same discipline as [[graft.text.TextAnalysis.winnowKernel]]: the
    * declarative form is the oracle-checked semantics, the kernel is the
    * bandwidth-right evaluation of exactly that semantics. */
  def simhashKernel(text: String, hashTok: String => Long): Long = {
    // EXACT mirror of explode(split(normText(text), " ")): normalized text
    // splits on single spaces; an empty normalization yields ONE "" token.
    val nt = TextAnalysis.normTextJvm(text)
    val counts = new Array[Int](SimhashBits)
    val n = nt.length
    var start = 0
    while (start <= n) { // `<=`: the final (or only, possibly empty) token
      val sp = nt.indexOf(' ', start)
      val end = if (sp < 0) n else sp
      val h = hashTok(nt.substring(start, end))
      var j = 0
      while (j < SimhashBits) {
        counts(j) += ((((h >>> j) & 1L) << 1) - 1L).toInt
        j += 1
      }
      start = end + 1
    }
    var sketch = 0L
    var j = 0
    while (j < SimhashBits) {
      if (counts(j) > 0) sketch |= 1L << j
      j += 1
    }
    sketch
  }

  /** Column form of [[simhashKernel]]: (id, simhash). Null text drops the
    * row, matching the declarative reference's explode-over-null behavior. */
  def simhash64Kernel(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    val hashTok = hasher.baseJvm
    val f = udf((s: String) => simhashKernel(s, hashTok))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), f(col(textCol)).as("simhash"))
  }

  /** Near-dup pairs with hamming(simhash) ≤ maxDist via pigeonhole: split
    * the 60-bit sketch into (maxDist+1) chunks — any pair within distance d
    * agrees exactly on ≥1 chunk, so an equi-join on (chunk_idx, chunk_val)
    * finds all of them without an n² scan. Sketches come from
    * [[simhash64Kernel]].
    *
    * The banding join runs over DISTINCT sketches only (one representative
    * per sketch value), with identical-sketch groups handled by a dedicated
    * dist-0 self-join and rep-pairs expanded back to member pairs by two
    * hash joins. Rationale (r5 task-metrics profile, ×80 dup corpus at
    * 1→4 cores): duplicate-heavy data concentrates whole dup groups into
    * single (chunk_idx, chunk_val) buckets, and the within-bucket join is
    * quadratic in GROUP MULTIPLICITY — measured as 2 straggler tasks owning
    * 32s of a 56s stage (median task 0.5s), capping scaling at 72% with
    * task-time inflation of only 1.07× (so: skew, not memory bandwidth).
    * Collapsing first shrinks the quadratic stage by multiplicity² (1600×
    * at ×80) and spreads the unavoidable quadratic OUTPUT across the
    * expansion joins' hash partitioning. Dup-free data pays ~3 extra
    * sketch-row-sized shuffles — noise next to the sketch build. The
    * result SET is identical (groups are disjoint; least/greatest keeps
    * the id_a < id_b normalization). */
  def simhashNearDupPairs(
      docs: DataFrame, maxDist: Int = 3, idCol: String = "doc_id", textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    val nChunks = maxDist + 1
    val width = SimhashBits / nChunks
    val sk = simhash64Kernel(docs, idCol, textCol, hasher)
    def chunkShift(c: Int): Int = c * width
    def chunkMask(c: Int): Long = {
      val w = if (c == nChunks - 1) SimhashBits - chunkShift(c) else width
      (1L << w) - 1L
    }
    val ids = sk.select(col(idCol).as("id"), col("simhash"))
    val reps = ids.groupBy(col("simhash")).agg(min(col("id")).as("id"))
    // identical sketches: every member pair is a dist-0 near-dup — no
    // hamming work, no banding; per-key fanout is bounded by the largest
    // exact-dup cluster (an upstream exactDedup pass is the design-point
    // answer when that itself is pathological)
    val intra = ids.as("x").join(ids.as("y"), Seq("simhash"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), lit(0).as("hamming"))
    val chunked = reps.select(col("id"), col("simhash"),
      posexplode(array((0 until nChunks).map { c =>
        shiftrightunsigned(col("simhash"), chunkShift(c)).bitwiseAND(chunkMask(c))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
    // Emit each qualifying pair from its FIRST agreeing chunk only: a pair
    // within distance d agrees on ≥1 chunk but usually on several (an exact
    // dup agrees on all nChunks — and dup-heavy corpora are exactly where
    // this operator's output explodes), so the naive join emits up to
    // nChunks duplicate rows per pair and then pays a full distinct()
    // shuffle of the pair set to collapse them. The first agreeing chunk is
    // a pure function of the two sketches (lowest all-zero chunk of their
    // XOR), so the duplicate emissions are dropped by a codegen'd filter
    // at the join output and the distinct disappears — same result set,
    // one shuffle less, join output ~nChunks× smaller on dup-heavy data.
    val xorCol = col("x.simhash").bitwiseXOR(col("y.simhash"))
    def chunkAgrees(c: Int): Column =
      shiftrightunsigned(xorCol, chunkShift(c)).bitwiseAND(chunkMask(c)) === 0L
    val firstAgreeingChunk = (0 until nChunks).foldRight(lit(nChunks): Column) {
      (c, els) => when(chunkAgrees(c), lit(c)).otherwise(els)
    }
    val repPairs = chunked.as("x").join(chunked.as("y"), Seq("chunk_idx", "chunk_val"))
      .filter(col("x.id") < col("y.id"))
      .filter(col("chunk_idx") === firstAgreeingChunk)
      .select(col("x.simhash").as("sk_a"), col("y.simhash").as("sk_b"),
        bit_count(xorCol).as("hamming"))
      .filter(col("hamming") <= maxDist)
    // expand each qualifying sketch pair to its member pairs: two hash
    // joins distribute the quadratic output by sketch value; pairs are
    // unique because sketch groups are disjoint and a rep pair occurs once
    val cross = repPairs
      .join(ids.as("a"), col("sk_a") === col("a.simhash"))
      .join(ids.as("b"), col("sk_b") === col("b.simhash"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"), col("hamming"))
    intra.unionByName(cross)
  }

  // --- corpus overlap: decontamination & boilerplate -------------------------

  /** Train/eval DECONTAMINATION by shingle overlap: for every `train` doc,
    * count the word-n-gram shingles it shares with ANY `bench` doc and flag
    * it contaminated when the count is positive. This is the standard
    * benchmark-leakage gate a training-data pipeline runs before a corpus
    * ships (the production n is 8–13 tokens; the harness query uses the
    * 3-gram family so the DuckDB oracle reuses the q26/q27 shingle mirror —
    * n is a parameter, the dataflow is identical).
    *
    * Scale shape: the bench side reduces to its DISTINCT shingle set — a
    * benchmark suite is tiny next to a 100 TB corpus, so the inner join is
    * broadcast-eligible (hinted; AQE falls back to a shuffle join above the
    * threshold, and the join key is the shingle so no host/doc skew). The
    * train side is one explode + one hash aggregation on (doc, shingle
    * already distinct per doc via shinglesOf) — no all-pairs anywhere, and
    * zero-hit docs never shuffle (they re-enter via the left join against
    * the ≤|train| hit table).
    */
  def decontaminate(
      train: DataFrame, bench: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3): DataFrame = {
    val trainSh = withShingles(train, idCol, textCol, n = n)
      .select(col(idCol), explode(col("sh")).as("s"))
    val benchSh = withShingles(bench, idCol, textCol, n = n)
      .select(explode(col("sh")).as("s")).distinct()
    // shinglesOf is distinct-per-doc, so count(1) == distinct shared shingles
    val hits = trainSh.join(broadcast(benchSh), Seq("s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit_shingles"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("n_hit_shingles"), lit(0L)) > 0L).as("contaminated"))
  }

  /** BOILERPLATE detection by corpus-level shingle document frequency (the
    * CCNet/C4 move at shingle granularity): a shingle occurring in ≥
    * `minDocPermille`/1000 of all documents is boilerplate (nav bars,
    * cookie banners, licence footers); each document reports how much of
    * its shingle set is boilerplate so a curation filter can threshold on
    * the fraction. The threshold is permille-INTEGER arithmetic —
    * `ceil(n_docs·p/1000)` as `(n_docs·p + 999) div 1000` — because a
    * double `n_docs * frac` rounds differently between engines exactly at
    * the boundary counts the threshold exists to compare against.
    *
    * Scale shape: document frequency is ONE hash aggregation keyed on the
    * shingle (map-side combinable — each doc contributes a shingle at most
    * once, so partial counts collapse hard); the corpus size is a 1-row
    * aggregate broadcast into the threshold; the flagged set joins back on
    * the shingle key. Nothing is quadratic and nothing is collected: the
    * doc-frequency table is itself distributed, and only the boolean
    * comparison against the broadcast scalar prunes it.
    */
  def boilerplateStats(
      docs: DataFrame,
      minDocPermille: Int,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3): DataFrame = {
    val sh = withShingles(docs, idCol, textCol, n = n)
      .select(col(idCol), explode(col("sh")).as("s"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // ceil(n_docs·p/1000) = (n_docs·p + 999) div 1000: the numerator is an
    // exact integer ≪ 2^53, and a double quotient that IS an integer is
    // exact while one that isn't sits ≥ 1/1000 from the floor boundary —
    // so floor() is engine-independent here where a fractional threshold
    // multiply would not be (see scaladoc)
    val thresh = floor(
      (col("n_docs") * lit(minDocPermille.toLong) + lit(999L)) / lit(1000.0)).cast("long")
    val flagged = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .filter(col("df") >= thresh)
      .select(col("s"))
    val perDoc = sh.join(flagged, Seq("s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_boilerplate"))
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"),
        (coalesce(col("n_boilerplate"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("boilerplate_frac"))
  }

  /** Corpus-level exact SEGMENT dedup with deterministic first-occurrence-
    * wins (the CCNet paragraph-dedup move): the near-dup operators compare
    * whole documents; this removes duplicated PIECES — nav bars, licence
    * footers, syndicated paragraphs — that survive document-level dedup
    * because their host pages differ. A segment is a non-overlapping run
    * of `segWords` normalized tokens (the deterministic stand-in for a
    * paragraph boundary in a corpus whose text carries no line structure;
    * a real corpus routes its paragraph splitter through the same shape).
    * An instance is kept iff its (doc, position) is the global minimum by
    * (`idCol`, seg_idx) over all instances of byte-identical segment text
    * — a total order, where `dropDuplicates` would keep an arbitrary
    * instance and break cross-run determinism. Intra-document repeats
    * dedupe under the same rule (only the earliest survives).
    *
    * Output per doc: `n_segments`, `n_kept`, `kept_frac`, and
    * `deduped_text` (the kept segments re-joined in document order).
    *
    * Scale shape: one posexplode, ONE hash aggregation keyed on the
    * segment producing the min (doc, idx) struct (map-side combinable —
    * partial mins merge), an equi-join back on the segment key, and a
    * per-doc reassembly aggregate whose collect_list is bounded by the
    * document's own segment count. Nothing quadratic, nothing collected
    * to the driver. The join-back key inherits the corpus's boilerplate
    * skew (a segment in 5% of docs is a hot key) — AQE skew-join handles
    * it, same answer as the fetch join's hot hosts (SURVEY §4.1). */
  def segmentDedup(
      docs: DataFrame, segWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val toks = split(TextAnalysis.normText(col(textCol)), " ")
    val nSeg = greatest(
      ceil(size(toks).cast("double") / segWords).cast("int"), lit(1))
    val segs = transform(sequence(lit(0), nSeg - 1),
      i => concat_ws(" ", slice(toks, i * segWords + 1, lit(segWords))))
    val exploded = docs.select(col(idCol), posexplode(segs).as(Seq("seg_idx", "seg")))
    val keeper = exploded.groupBy(col("seg"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("k"))
      .select(col("seg"), col("k").getField(idCol).as("k_doc"),
        col("k").getField("seg_idx").as("k_idx"))
    exploded.join(keeper, Seq("seg"))
      .withColumn("kept",
        col(idCol) === col("k_doc") && col("seg_idx") === col("k_idx"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls the non-kept branch produces; the
        // struct sort is by seg_idx (unique per doc) = document order
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("kept"), struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg"))).as("deduped_text"))
      .select(col(idCol), col("n_segments"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_segments").cast("double"))
          .as("kept_frac"),
        col("deduped_text"))
  }
}
