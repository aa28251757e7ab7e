package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupHasher}
import graft.text.TextAnalysis

/** Declarative reference forms of [[graft.dedup.Dedup]]'s kernels that no
  * `src/main` caller needs. PipelineSpec compares each kernel with its form
  * here, for both hasher families. */
object DedupReference {

  /** SimHash over word tokens (≡ `Dedup.simhash64Kernel`, the form the q28
    * oracle mirrors): bit j of the sketch is the sign of Σ_tokens (±1 by
    * bit j of hash(token)). Built via explode + 60 sum aggregates; null
    * text drops the row (explode over a null array emits nothing). */
  def simhash64(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      hasher: DedupHasher = DedupHasher.crossEngine): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(TextAnalysis.normText(col(textCol)), " ")).as("tok"))
      .withColumn("h", hasher.base(col("tok")))
    val sums = (0 until Dedup.SimhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$j"))
    val agg = toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val sketch = (0 until Dedup.SimhashBits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_.bitwiseOR(_))
    agg.select(col(idCol), sketch.as("simhash"))
  }
}
