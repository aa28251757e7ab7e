package graft.crawl

import org.apache.spark.sql.types._

/**
 * Data model of the crawl engine (SURVEY.md §1.2): everything is a snapshot
 * table; the queue is data, not a runtime object.
 */

/** One row of the input corpus — shape fixed by BASELINE.json `input_hint`. */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A frontier entry that survived dedup/robots/budget and got scheduled. */
final case class Candidate(
    canon_url: String,
    host: String,
    host_rev: String,
    depth: Int,
    discovery_round: Int,
    host_rank: Int)

/** Scheduler output: candidate + politeness schedule metadata. */
final case class Scheduled(
    canon_url: String,
    host: String,
    host_rev: String,
    depth: Int,
    discovery_round: Int,
    host_rank: Int,
    scheduled_offset_ms: Long)

/** Crawl configuration — the "politeness budget" under which ordering parity
  * is defined (FIXTURES.md §F2). All knobs deterministic. */
final case class CrawlConfig(
    userAgent: String = "crawlerspark",
    maxDepth: Int = 6,
    hostBudget: Int = 16,
    // Per-host budget OVERRIDES (op 38's literal signature k = budget(host)):
    // politeness tiers — whitelisted partners crawl deeper, abuse-listed
    // hosts shallower. Tiny by construction (explicit tier entries, not one
    // per host); rides the budget aggregator's closure. Hosts absent from
    // the map use `hostBudget`.
    hostBudgets: Map[String, Int] = Map.empty,
    roundBudget: Int = 2048,
    ratePerSec: Double = 2.0,
    burst: Int = 4,
    // Hot-host salting threshold (op 47): the politeness repartition keys on
    // (host, (host_rank-1)/threshold), so a host with ≤ threshold scheduled
    // candidates lands in ONE partition (salt ≡ 0, plain host clustering)
    // while a Zipf-hot host spreads across ⌈n/threshold⌉ salt groups — no
    // partition ever owns more than `threshold` rows of one host. Offsets
    // stay globally correct because the round schedules by the closed-form
    // rank function (TokenBucket.offsetByRank), which is stateless. The salt
    // only triggers when hostBudget (which caps host_rank BEFORE the
    // shuffle) exceeds it — i.e. when the budget alone no longer bounds the
    // straggler.
    hostSaltThreshold: Int = 4096,
    // Crawler-trap guard (op 38 × frontier state, 10^10-scale state bound):
    // cap the COMMITTED frontier at `hostFrontierCap` rows per host — the
    // kept rows are the host's best (depth, discovery_round, canon_url)
    // prefix, i.e. exactly the order the scheduler would fetch them in.
    // Pruned URLs remain in the URL-seen state (they were enqueued), so a
    // calendar/session-id trap is pruned PERMANENTLY rather than
    // re-discovered and re-dropped every round; the frontier's per-host
    // footprint is then bounded regardless of how many distinct URLs a
    // trap mints. Off (MaxValue) by default — the golden fixtures pin
    // uncapped runs; deployments size it ≥ a few rounds of hostBudget.
    hostFrontierCap: Int = Int.MaxValue,
    // Link-rank frontier prioritization (op 16 × q45): when on, each round
    // runs the integer-fixed-point LinkRank over the HOST graph accumulated
    // from all committed rounds' discovered links, buckets hosts into
    // `rankBuckets` deterministic tiers (LinkRank.bucketByRank — pure
    // integer thresholds, no float ever), and broadcast-joins the tier into
    // the candidate set as a `rank_bucket` term of the priority struct
    // (after depth, before discovery_round). Popular hosts fetch earlier
    // and survive the round budget first; the total order is preserved
    // (canon_url still ends the struct). The signal LAGS one round by
    // construction — round N ranks over links discovered through round N−1,
    // identically in sync and pipelined modes (parity-tested). Committed
    // fetch_log/frontier schemas are unchanged: rank_bucket lives only in
    // the in-round frames.
    rankPriority: Boolean = false,
    rankIters: Int = 3,
    rankBuckets: Int = 4,
    numPartitions: Int = 32,
    bloomFpp: Double = 0.01,
    bloomExpectedPerPartition: Long = 1 << 16,
    // URL-seen sketch tier: "bloom" | "cuckoo" (delete-capable). Either way
    // the P per-partition sketches stay where they live — the round probes
    // them map-side ([[CrawlRound.probeSeen]]), never through the driver.
    filterKind: String = "bloom",
    // Adaptive seen-sketch sizing (bloom tier only): each round the loop
    // computes the REALIZED false-positive rate from its own lineage
    // metrics (fp = enqueued − deduped_bloom_definite over tested =
    // discovered − deduped_exact — the same accounting CrawlSpec's FPR gate
    // pins). When it exceeds 2× bloomFpp, the next snapshot is REBUILT from
    // the exact seen store, sized for 2× the driver-known cumulative seen
    // count (blooms of different geometry cannot OR-merge, so resize means
    // one full-scan rebuild — the growth is geometric, so a crawl pays
    // O(log final-size) rebuilds total). Membership verdicts stay exact
    // either way (the bloom only pre-filters the exact anti-join), so the
    // committed fetch_log is byte-identical with the flag on or off — only
    // sketch geometry and the bloom_might lineage metric change. Resume
    // adopts the committed snapshot's geometry from its header, never cfg's.
    adaptiveSketch: Boolean = false,
    // in-loop robots acquisition (op 31): candidates on hosts with no known
    // robots verdict DEFER one round while the round fetches their
    // robots.txt into the rules state (RFC 9309 crawl-after-robots). Off =
    // rules pre-ingested at bootstrap (the sidecar-fetcher production
    // shape, and the ordering the golden fixtures pin).
    robotsFetchInLoop: Boolean = false,
    // Sitemap seeding (op 2 extension, sitemaps.org): at bootstrap, robots'
    // group-independent `Sitemap:` URLs are fetched from the corpus (one
    // equi-join on the canonical key — the same "fetch = join the web"
    // model as pages) and their <loc> entries join the seed list as depth-0
    // frontier candidates (src_url = the sitemap URL, so lineage shows the
    // provenance). One level only — a sitemap INDEX's child sitemaps are
    // <loc>s that are not pages, so they simply miss the corpus join; the
    // flag is off by default (the golden fixtures pin seed-list-only runs).
    seedFromSitemaps: Boolean = false,
    // Overlap round N's commit (table writes + manifest) with round N+1's
    // compute: the commit is a fixed per-round cost (parquet writes, mostly
    // I/O-bound — measured at ~half the round wall at 16 cores) that does
    // not shrink with cores, so hiding it under the next round's compute is
    // the single biggest Amdahl cut in the loop. Depth is exactly 1 and
    // commit N must settle before commit N+1 starts (manifests are ordered,
    // and the append-delta chain of N+1 anchors on N's manifest), so crash
    // durability is unchanged: at most the one in-flight round is lost,
    // same as the synchronous loop. Committed bytes are identical either
    // way — the determinism/resume contract is mode-independent.
    commitPipelining: Boolean = true,
    // How pipelined mode's cross-round frames survive the round boundary:
    //   "cache"      — flat LogicalRDD hop over the pinned cache (zero extra
    //     I/O). Lineage bottoms out in executor blocks: MEMORY_AND_DISK
    //     survives memory pressure but NOT executor loss, so this tier is a
    //     LOCAL-MODE / reliable-store assumption (block loss would silently
    //     recompute with re-sampled range boundaries — wrong fetch_seq).
    //   "checkpoint" — reliable Dataset.checkpoint(): the handed-off frames
    //     (frontier, new seen keys, sketch rows, in-loop robots delta) are
    //     written to `checkpointDir` and re-read from there; lineage is
    //     TRUNCATED at durable files, so executor loss recomputes nothing.
    //     This is the cluster-durable pipelined tier: it keeps the 1-deep
    //     commit overlap while restoring sync mode's durability, at the cost
    //     of one extra write+read of the (narrow) cross-round frames.
    pipelineHop: String = "cache", // "cache" | "checkpoint"
    // Reliable-checkpoint root for pipelineHop = "checkpoint". On a cluster
    // this MUST be shared storage (HDFS/S3 — same fault domain as the
    // catalog); empty = a fresh local temp dir (sandbox/tests). Ignored by
    // the cache tier.
    checkpointDir: String = "",
    // Bound on EVERY wait for an in-flight commit: the loop's barrier
    // before the next commit, and the failure path's finally-block quiesce.
    // A commit that does not settle in time fails the loop (naming its
    // round) and is ABANDONED — publication is poisoned and the commit
    // thread interrupted, so the wedged commit can never publish its
    // manifest after the caller observed the crawl as failed. Generous is
    // right in production: a slow-but-healthy commit that settles inside
    // the window keeps its round. Tests shrink it to exercise abandonment.
    commitQuiesceTimeoutSec: Int = 600)

object Schemas {
  /** BASELINE.json input_hint, exactly. */
  val pages: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** One row per discovered-not-yet-fetched URL. `discovery_round` (not
    * wall time) orders discoveries — determinism forbids clocks (SURVEY.md
    * §7.5.1). */
  val frontier: StructType = StructType(Seq(
    StructField("canon_url", StringType, nullable = false),
    StructField("raw_url", StringType),
    StructField("host", StringType),
    StructField("host_rev", StringType),
    StructField("depth", IntegerType),
    StructField("discovery_round", IntegerType),
    StructField("src_url", StringType)))

  val urlSeen: StructType = StructType(Seq(
    StructField("partition_id", IntegerType),
    StructField("kind", StringType),
    StructField("sketch", BinaryType),
    StructField("n_items", LongType)))

  val robots: StructType = StructType(Seq(
    StructField("host", StringType, nullable = false),
    StructField("robots_body", StringType)))

  val fetchLog: StructType = StructType(Seq(
    StructField("round", IntegerType),
    StructField("canon_url", StringType),
    StructField("fetch_seq", LongType),
    StructField("scheduled_offset_ms", LongType),
    StructField("status", IntegerType),
    StructField("n_outlinks", IntegerType),
    StructField("text_sha256", StringType)))
}
