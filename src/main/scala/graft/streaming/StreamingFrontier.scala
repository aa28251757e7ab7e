package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming variant of the frontier (SURVEY.md op 52, post-MVP
 * completeness): the batch engine treats the queue as snapshot tables; this
 * module treats newly-discovered links as an unbounded stream —
 *
 *   [[StreamingFrontier.StreamLink]] stream → watermark(discovery_ts)
 *     → dropDuplicatesWithinWatermark(canon_url)          [streaming dedup]
 *     → window(discovery_ts, roundLen) × host aggregation [tumbling rounds]
 *     → flatMapGroupsWithState by host                    [budget state]
 *
 * Late links (beyond the watermark) roll into the next window rather than
 * mutating a closed round — the streaming analogue of "discovered after the
 * round's snapshot commits goes to round N+1".
 *
 * Scale notes: all stateful operators key by host or canon_url, so state is
 * hash-partitioned exactly like the batch tables; the watermark bounds
 * dedup/window state to one round's worth of keys per partition.
 */
object StreamingFrontier {

  final case class StreamLink(
      canon_url: String,
      host: String,
      depth: Int,
      discovery_ts: java.sql.Timestamp)

  final case class HostBudgetState(emitted: Long)

  /** Streaming URL-seen dedup: first occurrence of each canon_url within
    * the watermark horizon wins; state expires with the watermark so the
    * store holds one horizon of keys, not the crawl's history. (The full
    * seen-set lives in the batch-side bloom/exact tables; this guards the
    * stream's own window.) */
  def dedupedLinks(links: DataFrame, watermark: String = "10 minutes"): DataFrame =
    links
      .withWatermark("discovery_ts", watermark)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Tumbling per-round aggregation: (round window × host) → discovered
    * count + best (min) depth. Append-mode emits a row once the watermark
    * passes the window end — i.e. when the round is sealed. */
  def hostRoundCounts(
      links: DataFrame,
      roundLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    links
      .withWatermark("discovery_ts", watermark)
      .groupBy(window(col("discovery_ts"), roundLen).as("round"), col("host"))
      .agg(count(lit(1)).as("n_discovered"), min(col("depth")).as("min_depth"))
      .select(col("round.start").as("round_start"), col("host"),
        col("n_discovered"), col("min_depth"))

  /** Keyed host-budget admission: pass through at most `budget` links per
    * host over the stream's lifetime (NoTimeout ⇒ budget is global; swap in
    * ProcessingTimeTimeout to make it per-epoch). The per-group iterator
    * preserves within-batch arrival order; emission is capped, never
    * reordered. */
  def budgetedCandidates(
      links: Dataset[StreamLink],
      budget: Int): Dataset[StreamLink] = {
    import links.sparkSession.implicits._
    links
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostBudgetState, StreamLink](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[StreamLink], state: GroupState[HostBudgetState]) =>
          val sofar = state.getOption.map(_.emitted).getOrElse(0L)
          val take = rows.take(math.max(0, budget - sofar.toInt))
          val out = take.toSeq
          state.update(HostBudgetState(sofar + out.size))
          out.iterator
      }
  }
}
