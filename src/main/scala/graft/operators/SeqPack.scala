package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/**
 * Sequence packing — the last hop of a pretraining data pipeline: documents
 * are concatenated in a deterministic order and cut into fixed-length
 * training sequences ("concat-and-chunk", the GPT-style packing that wastes
 * zero tokens to padding). The operator emits the PACK MANIFEST — one row
 * per (chunk, doc) span — rather than materialized token arrays: at 100 TB
 * the manifest is what gets shipped (a loader gathers each chunk's spans),
 * and it is 2–3 columns per span instead of L tokens per chunk.
 *
 * The only global dependency is the running token offset of each doc, which
 * is [[Ranks.globalCumsumPinned]] — the two-phase prefix sum (per-partition
 * totals → broadcast offsets → partition-local pass), NOT a single-partition
 * window, so the plan scales like a sort. Span arithmetic is all row-local
 * integer math: doc with offset o and t tokens covers chunks
 * ⌊o/L⌋ … ⌊(o+t−1)/L⌋, contributing
 * [max(cL, o), min((c+1)L, o+t)) of the global stream to chunk c.
 *
 * Token counts are whitespace tokens over the shared normText rule
 * (integer, cross-engine exact ⇒ DuckDB oracle, q67). Empty/null docs carry
 * zero tokens and no span. Every chunk is exactly L tokens except the last.
 */
object SeqPack {

  /** Returns (manifest, pin): the manifest reads the token offsets through
    * `pin`, the cache [[Ranks.globalCumsumPinned]] took. Consume the
    * manifest, then unpersist `pin` (unpersisting the manifest itself
    * releases nothing — it is a different plan). */
  def packManifest(
      docs: DataFrame,
      seqLen: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      numPartitions: Int = 32): (DataFrame, DataFrame) = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val toks = docs
      .select(col(idCol), TextAnalysis.wsTokenCount(col(textCol)).as("n_toks_doc"))
      .filter(col("n_toks_doc") > 0L)
    val withOff = Ranks.globalCumsumPinned(
      toks, "tok_off", Some("n_toks_doc"), Seq(col(idCol)), numPartitions)
    val L = lit(seqLen.toLong)
    val first = expr(s"tok_off div ${seqLen}L")
    val last = expr(s"(tok_off + n_toks_doc - 1) div ${seqLen}L")
    val manifest = withOff
      .withColumn("chunk_id", explode(sequence(first, last)))
      .select(
        col("chunk_id"),
        col(idCol),
        greatest(col("chunk_id") * L - col("tok_off"), lit(0L)).as("doc_from"),
        (least((col("chunk_id") + 1L) * L, col("tok_off") + col("n_toks_doc"))
          - greatest(col("chunk_id") * L, col("tok_off"))).as("n_toks"))
    (manifest, withOff)
  }
}
