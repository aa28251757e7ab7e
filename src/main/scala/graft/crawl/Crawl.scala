package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrawlUdfs
import graft.sketch.{BloomFilter, SketchAgg}

/**
 * The batch-iterative crawl driver (SURVEY.md op 50): a plain Scala loop —
 * each round is one job DAG over snapshot tables; no streaming runtime.
 * Resume (op 51) is "read the latest manifest and keep going": a fresh JVM
 * reconstructs everything from the catalog directory, which is the whole
 * point of making the queue a table.
 */
object Crawl {

  /** One-time setup: canonicalize+dedup the corpus, parse robots, seed the
    * frontier and the seen state, commit as round -0 (manifest 0 = bootstrap,
    * fetch rounds start at 1). */
  def bootstrap(
      spark: SparkSession,
      catalog: StateCatalog,
      pagesRaw: DataFrame,
      robotsRaw: DataFrame, // (host, robots_body)
      seeds: Seq[String],
      cfg: CrawlConfig): Unit = {
    import spark.implicits._

    val pagesCanon = CrawlRound.canonicalizePages(pagesRaw)
      // bucket by canon_url hash — the fetch join's key and the same
      // pmod(xxhash64(canon_url), P) math as the url_seen state tables, so
      // corpus, frontier and seen-state co-partition (SPJ story) AND page
      // payloads spread uniformly. (Bucketing by HOST would funnel the
      // Zipf-hot host's pages into one partition: the fetch join broadcasts
      // the small candidate side, parse inherits the corpus partitioning,
      // and the hot partition becomes the stage's critical path at any
      // core count — measured as flat 8→32 scaling.)
      .repartition(cfg.numPartitions,
        CrawlRound.partitionIdOf(col("canon_url"), cfg.numPartitions))

    // robots state: pre-parsed rules for the sidecar-fetcher shape, or an
    // EMPTY rules table when robots are acquired in-loop (op 31) — the raw
    // source table is committed either way (it is "the web's" robots.txt)
    // Crawl-delay resolved against THIS crawl's user-agent at parse time
    // (the table is per-crawl state, so binding ua here is lossless) —
    // the loop feeds it to the token-bucket as a per-host spacing floor.
    // Rules + delay + sitemaps come out of ONE body scan (robots_parse_ua):
    // the single-facet UDFs would each re-scan the body per row. With
    // sitemap seeding there are TWO bootstrap consumers (rules table,
    // sitemap locs), so the parsed frame is pinned for the bootstrap's
    // duration — bodies themselves are projected away before the cache.
    val parsedAll = robotsRaw
      .withColumn("p", CrawlUdfs.robots_parse_ua(col("robots_body"), lit(cfg.userAgent)))
      .select(col("host"), col("p"))
    if (cfg.seedFromSitemaps) parsedAll.persist()
    val parsedRules = parsedAll
      .select(col("host"), col("p._1").as("rules"), col("p._2").as("crawl_delay_ms"))
    val robotsRules = if (cfg.robotsFetchInLoop) parsedRules.limit(0) else parsedRules

    val seedF = CrawlRound.seedFrontier(spark, seeds)
    val frontier0 =
      if (!cfg.seedFromSitemaps) seedF
      else {
        // sitemap seeding (op 2 extension, cfg.seedFromSitemaps): robots'
        // Sitemap: URLs → fetch the XML from the corpus (equi-join on the
        // canonical key, identical to the page-fetch model) → explode the
        // <loc> entries into depth-0 candidates. firstDiscoveryWins arbitrates
        // against the seed list deterministically (src_url null < sitemap
        // url, so an URL in BOTH keeps its seed-list identity).
        val locs = parsedAll
          .select(explode(col("p._3")).as("sm_url"))
          .select(graft.functions.UrlExpressions.canonicalize_url(col("sm_url"))
            .as("canon_url"), col("sm_url"))
          .join(pagesCanon.select(col("canon_url"), col("html")), Seq("canon_url"))
          .select(col("sm_url"),
            explode(CrawlUdfs.sitemap_locs(col("html"))).as("raw_url"))
        val smSeeds = locs
          .withColumn("canon_url",
            graft.functions.UrlExpressions.canonicalize_url(col("raw_url")))
          // same scheme/null guard as the discovery path (CrawlRound step 9):
          // a malformed <loc> canonicalizes to null and must not commit a
          // null-keyed row into frontier/url_seen_exact/the seen sketch
          .filter(col("canon_url").startsWith("http://") ||
            col("canon_url").startsWith("https://"))
          .withColumn("host", graft.functions.UrlExpressions.url_host(col("canon_url")))
          .withColumn("host_rev", graft.functions.UrlExpressions.host_rev(col("host")))
          .withColumn("depth", lit(0))
          .withColumn("discovery_round", lit(0))
          .withColumn("src_url", col("sm_url"))
          .drop("sm_url")
        CrawlRound.firstDiscoveryWins(seedF.unionByName(
            smSeeds.select(seedF.columns.map(col).toIndexedSeq: _*)))
          .select(seedF.columns.map(col).toIndexedSeq: _*) // frontier col order
      }
    val seenExact0 = frontier0.select("canon_url")

    val sketch0 = buildSketchDelta(spark, seenExact0, cfg)

    catalog.commit(0, Map(
      "pages_canon" -> pagesCanon,
      "robots_rules" -> robotsRules,
      "robots_source" -> robotsRaw,
      "frontier" -> frontier0,
      "url_seen_exact" -> seenExact0,
      "url_seen" -> sketch0,
      "fetch_log" -> emptyFetchLog(spark)),
      Map("total_fetched" -> 0L, "enqueued" -> frontier0.count()))
    if (cfg.seedFromSitemaps) parsedAll.unpersist()
  }

  private def emptyFetchLog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.fetchLog)

  /** Per-partition sketch rows for a batch of new canon_urls. `geometry`
    * overrides the cfg-derived bloom size (adaptiveSketch resizes). */
  def buildSketchDelta(spark: SparkSession, newKeys: DataFrame, cfg: CrawlConfig,
      geometry: Option[(Int, Int)] = None): DataFrame = {
    val (bits, k) = geometry.getOrElse(
      BloomFilter.geometry(cfg.bloomExpectedPerPartition, cfg.bloomFpp))
    val keyed = newKeys
      .withColumn("partition_id", CrawlRound.partitionIdOf(col("canon_url"), cfg.numPartitions))
      .withColumn("key", xxhash64(col("canon_url")))
      // Shuffle the RAW KEYS to their bucket before aggregating: a groupBy
      // straight off the (arbitrarily-partitioned) key frame plans a
      // map-side partial agg, where every map task allocates a partial
      // bitset per bucket it sees — up to P sketch-sized buffers per task,
      // all serialized through the shuffle. Partial state ≫ raw keys here
      // (a round's keys per bucket are a few hundred KB; a bitset is fixed
      // bloom-sized regardless of how few keys it holds), so the usual
      // "partial agg reduces shuffle" heuristic is inverted. After the
      // explicit repartition the aggregate's requirement is already
      // satisfied and each reduce task builds exactly ONE sketch.
      .repartition(cfg.numPartitions, col("partition_id"))
    val agg =
      if (cfg.filterKind == "cuckoo")
        SketchAgg.cuckooBuild(cfg.bloomExpectedPerPartition)(col("key"))
      else
        SketchAgg.bloomBuild(bits, k)(col("key"))
    keyed.groupBy(col("partition_id"))
      .agg(agg.as("sketch"), count(lit(1)).as("n_items"))
      .withColumn("kind", lit(cfg.filterKind))
      .select("partition_id", "kind", "sketch", "n_items")
  }

  /** Merge previous sketch state with a delta — fully distributed, one
    * sketch-row per partition flows through the shuffle. */
  def mergeSketches(prev: DataFrame, delta: DataFrame): DataFrame = {
    prev.unionByName(delta)
      .groupBy(col("partition_id"), col("kind"))
      .agg(SketchAgg.sketchMerge(col("sketch")).as("sketch"), sum(col("n_items")).as("n_items"))
      .select("partition_id", "kind", "sketch", "n_items")
  }

  /** Long-lived per-crawl state: the corpus cached WITH the fetch-join
    * partitioning (HashPartitioning(canon_url, P) — Catalyst-recognized, so
    * every round's fetch join leaves the corpus side exchange-free) and the
    * robots state. Opened once; callers that benchmark steady-state rounds
    * open it eagerly OUTSIDE the timed window (it is ingest, not crawl — on
    * a real cluster it is the Iceberg bucketed-table layout that persists
    * between runs). */
  final case class CrawlState(
      pagesCanon: DataFrame,
      robotsStatic: DataFrame, // null in in-loop mode
      robotsSource: Option[DataFrame]) {
    def close(): Unit = {
      pagesCanon.unpersist()
      if (robotsStatic != null) robotsStatic.unpersist()
      robotsSource.foreach(_.unpersist())
    }
  }

  def openState(spark: SparkSession, catalog: StateCatalog, cfg: CrawlConfig,
      eager: Boolean = false): CrawlState = {
    // Partition AND sort by the fetch-join key: InMemoryRelation preserves
    // the cached plan's outputOrdering, so every round's sort-merge fetch
    // join consumes the corpus as-is — no Exchange and no per-round Sort of
    // the page payloads. Without the sort the SMJ re-sorts the full cached
    // corpus (html bodies and all) EVERY round: measured at 480k pages /
    // local[16] as ~740 MB peak execution memory per task and 4.7x task-time
    // inflation vs local[4] (16 concurrent payload sorts contending for the
    // unified memory pool), the dominant anti-scaling term of the whole
    // crawl. On a real cluster this is the Iceberg bucketed+sorted table
    // layout — sorted once at ingest, consumed merge-ready forever.
    val pagesCanon = catalog.load(spark, "pages_canon").get
      .repartition(cfg.numPartitions, col("canon_url"))
      .sortWithinPartitions(col("canon_url"))
      .persist()
    // robots: static state is cached once; in-loop state grows per round and
    // is re-read from the (small) committed table
    val robotsSource =
      if (cfg.robotsFetchInLoop) Some(catalog.load(spark, "robots_source").get.persist())
      else None
    val robotsStatic =
      if (cfg.robotsFetchInLoop) null else catalog.load(spark, "robots_rules").get.persist()
    if (eager) {
      pagesCanon.count()
      if (robotsStatic != null) robotsStatic.count()
      robotsSource.foreach(_.count())
    }
    CrawlState(pagesCanon, robotsStatic, robotsSource)
  }

  /** [[runRounds]] over a [[CrawlState]] it opens and closes itself. */
  def runRounds(
      spark: SparkSession,
      catalog: StateCatalog,
      cfg: CrawlConfig,
      maxRounds: Int): Seq[CrawlRound.RoundResult] = {
    val st = openState(spark, catalog, cfg)
    try runRounds(spark, catalog, cfg, maxRounds, st) finally st.close()
  }

  /** Frame-lifetime rule of the loop: round N's caches and the [[hop]]ped
    * copies of its cross-round frames back commit N's writes; round N+1's
    * plans read only those copies and parquet, and
    * materialize no later than commit N+1. So both retire together exactly
    * when commit N+1 settles — freeing them earlier would fail round N+1's
    * plans on a released block (a cached frame would instead silently
    * recompute and re-sample the rank's range boundaries: a correctness
    * trap, not just a slowdown). */
  private final case class InFlight(
      round: Int,
      fut: scala.concurrent.Future[CrawlRound.RoundResult],
      frames: Iterable[DataFrame])

  /** The cross-round handoff of one frame: computed once on the loop
    * thread, before the barrier, and pinned with its lineage cut by
    * [[graft.operators.Ranks.truncate]] (reliable checkpoint under the
    * session's checkpoint dir, local checkpoint otherwise). The hopped copy
    * is what commit N writes and what round N+1 reads, so the commit only
    * encodes rows that already exist. A round's plan embeds its input frame
    * several times over (eligibility, scheduled anti-join, discovery
    * union), so chaining raw DataFrames grows the LOGICAL tree
    * exponentially in round count — measured as a driver OOM just
    * stringifying a 3-round tree. The hop plays the role an Iceberg table
    * boundary plays on a real cluster. */
  private[crawl] def hop(df: DataFrame): DataFrame =
    graft.operators.Ranks.truncate(df, eager = true)

  /** Runs up to `maxRounds` rounds after the catalog's latest, committing
    * each, and returns their results. Stops early when a round makes no
    * progress (the frontier drained).
    *
    * One round N, in order:
    *   1. run + rank: [[CrawlRound.run]] plans the round and materializes
    *      its rank (fetch + parse), under commit N-1;
    *   2. hop: the cross-round frames are computed once and pinned by
    *      [[hop]], still under commit N-1 — the new seen keys first, then
    *      the next frontier, the merged sketch and (when enabled) the
    *      robots and host-graph deltas as concurrent jobs;
    *   3. barrier: wait for commit N-1 to settle;
    *   4. handoff: submit commit N, which writes the hopped frames, then
    *      build round N+1's inputs from the same hopped frames plus as-of
    *      loads anchored on manifest N-1 (the loads start no job). From
    *      commit N's submission to round N+1's first job the loop thread
    *      waits for nothing.
    *
    * Serial-floor discipline (the measured crawl-throughput bound was the
    * per-round job count, not compute):
    *   - `pages_canon` is loaded ONCE (see [[openState]]), so every round's
    *     fetch join leaves the corpus side exchange-free.
    *   - commit N runs on a background thread under round N+1's compute;
    *     round N+1 reads round N's state through the hopped frames, never
    *     through the catalog.
    *   - the URL-seen sketch never visits the driver: each round probes
    *     the previous round's hopped `url_seen` frame map-side
    *     ([[CrawlRound.probeSeen]]).
    *   - metrics are Observations riding the commit writes (see
    *     [[CrawlRound.RoundOutput]]) — zero dedicated metric jobs.
    *   - no up-front `isEmpty` probe: an empty frontier yields fetched == 0
    *     through the same dataflow and stops the loop.
    *
    * `GRAFT_CRAWL_TIMING` prints each round's four phases and its `LOOP`
    * total, which they add up to. */
  def runRounds(
      spark: SparkSession,
      catalog: StateCatalog,
      cfg: CrawlConfig,
      maxRounds: Int,
      state: CrawlState): Seq[CrawlRound.RoundResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val startRound = catalog.latestRound.getOrElse(
      throw new IllegalStateException("catalog not bootstrapped")) + 1
    val pagesCanon = state.pagesCanon
    val robotsSource = state.robotsSource
    val results = scala.collection.mutable.ArrayBuffer[CrawlRound.RoundResult]()
    val timing = sys.env.contains("GRAFT_CRAWL_TIMING")

    // Commit executor: ONE dedicated daemon thread. Commits must be ordered
    // (manifest N settles before commit N+1 starts — N+1's append chain
    // anchors on N's manifest) and each commit is internally parallel
    // already (concurrent per-table write jobs), so single capacity is
    // exactly right: the pipeline depth is 1 by construction.
    val commitPool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-commit"); t.setDaemon(true); t
    })
    val commitEc = ExecutionContext.fromExecutorService(commitPool)
    // Hop executor: a round's independent hops run as concurrent jobs, as
    // the commit's table writes do — each hop is a chain of small stages,
    // and one at a time they leave most task slots idle. Its threads start
    // on the loop thread's first submission, so they inherit the caller's
    // Spark local properties (job group, scheduler pool).
    val hopPool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-hop"); t.setDaemon(true); t
    })
    val hopEc = ExecutionContext.fromExecutorService(hopPool)
    // Set when the finally-block quiesce times out and abandons the in-flight
    // commit. The commit closure re-checks it in the metrics thunk — which
    // the catalog evaluates AFTER the table writes and BEFORE the manifest
    // rename — so an abandoned commit aborts short of the linearization
    // point instead of publishing a manifest after the caller already
    // observed the crawl as failed.
    val commitAbandoned = new java.util.concurrent.atomic.AtomicBoolean(false)

    // Cross-round state handed off IN MEMORY: the catalog lags one round
    // (commit N runs under round N+1), so the loop never reads a round's own
    // tables back. Initial values come from the settled catalog — resume is
    // unchanged.
    var frontier = catalog.load(spark, "frontier").get
    var seenExact = catalog.load(spark, "url_seen_exact").get
    var urlSeenPrev = catalog.load(spark, "url_seen")
    var robotsRules =
      if (cfg.robotsFetchInLoop) catalog.load(spark, "robots_rules").get else state.robotsStatic
    // robots Crawl-delay side of the schedule step (op 13 × 48), hoisted out
    // of the loop: sidecar rules are static, so the (host, delay) frame is
    // derived and counted ONCE — in the overwhelmingly common no-delay case
    // the loop pays NOTHING per round (None ⇒ run() skips the join
    // entirely). In-loop mode derives per round inside run() (rules grow).
    val staticDelays: Option[DataFrame] =
      if (cfg.robotsFetchInLoop || robotsRules == null ||
          !robotsRules.columns.contains("crawl_delay_ms")) None
      else {
        val d = robotsRules.filter(col("crawl_delay_ms").isNotNull)
          .select("host", "crawl_delay_ms").persist()
        if (d.count() == 0) { d.unpersist(); None } else Some(d)
      }
    var base = catalog.metricsOf(startRound - 1).getOrElse("total_fetched",
      (0 until startRound).map(r => catalog.metricsOf(r).getOrElse("fetched", 0L)).sum)
    // rankPriority: the accumulated host-graph (union of per-round distinct
    // deltas — committed as an APPEND chain, never a full rewrite; dedup
    // happens once per round at rank-compute time). None until links exist.
    var hostEdges: Option[DataFrame] =
      if (cfg.rankPriority) catalog.load(spark, "host_edges") else None

    // ---- adaptive sketch sizing (cfg.adaptiveSketch, bloom tier only).
    // Driver-known cumulative seen count: round 0's "enqueued" metric is the
    // seed count, each later round's is its new keys — no jobs to maintain.
    val adaptive = cfg.adaptiveSketch && cfg.filterKind == "bloom"
    var bloomGeo = BloomFilter.geometry(cfg.bloomExpectedPerPartition, cfg.bloomFpp)
    var sketchRebuild = false
    // settled results for rounds below this probed a pre-rebuild snapshot;
    // their FPR must not re-trigger a resize (each spurious trigger costs a
    // full rebuild scan of the exact seen store)
    var fprMuteBelow = 0
    if (cfg.filterKind == "bloom") urlSeenPrev.foreach { prev =>
      // resume adopts the COMMITTED geometry, not cfg's: a prior run may
      // have resized (adaptiveSketch — possibly on, then, and off, now),
      // and a delta at any other size cannot OR-merge into the committed
      // rows (BloomFilter.merge throws on geometry mismatch). Adoption is
      // therefore unconditional for the bloom tier, NOT gated on the
      // adaptive flag. One sketch-row header read — driver-tiny, once per
      // runRounds.
      prev.select("sketch").head(1).headOption.foreach { row =>
        val bb = java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](0))
        bb.getInt(); bb.getInt() // magic, version
        bloomGeo = (bb.getInt(), bb.getInt())
      }
    }

    var inFlight: Option[InFlight] = None
    var retired: Iterable[DataFrame] = Nil // frames of the last SETTLED round
    var lastRes: Option[CrawlRound.RoundResult] = None

    // Every frame the loop has pinned and not yet released. Cleanup runs in
    // the finally block over whatever is left, so an exception at ANY point
    // of a round (compute, barrier, commit submission) releases the settled
    // round's caches AND the half-built round's — not just the happy path's.
    val live = scala.collection.mutable.LinkedHashSet[DataFrame]()
    def release(dfs: Iterable[DataFrame]): Unit = dfs.foreach { df =>
      scala.util.Try(graft.operators.Ranks.release(df)); live -= df
    }
    staticDelays.foreach(live += _) // crawl-lifetime pin, released with the rest

    // Every wait on a commit is bounded by cfg.commitQuiesceTimeoutSec. A
    // commit that does not settle at the barrier fails the loop, naming its
    // round; the finally block below then abandons it without waiting out
    // a second window.
    val commitWait = Duration(cfg.commitQuiesceTimeoutSec.toLong, "sec")
    var commitWedged = false
    def settle(): Unit = inFlight.foreach { f =>
      try Await.ready(f.fut, commitWait) catch {
        case _: java.util.concurrent.TimeoutException =>
          commitWedged = true
          throw new java.util.concurrent.TimeoutException(
            s"commit r${f.round} did not settle within ${cfg.commitQuiesceTimeoutSec}s")
      }
      val res = f.fut.value.get.get // rethrows a failed commit's exception
      release(retired)
      retired = f.frames
      results += res
      lastRes = Some(res)
      inFlight = None
    }
    // a robots-only round (in-loop acquisition) is progress: candidates
    // deferred behind those fetches become schedulable next round
    def noProgress(r: CrawlRound.RoundResult): Boolean =
      r.fetched == 0L && r.robotsFetched == 0L

    var round = startRound
    var continue = true
    try {
      while (continue && round < startRound + maxRounds) {
        if (lastRes.exists(noProgress)) { continue = false }
        else {
          // adaptive sizing: consult the last settled round's lineage. The
          // check only SCHEDULES the rebuild — sizing happens at rebuild
          // time from the actual exact-store count, because here the
          // settled counters lag the loop by up to two rounds (round N's
          // result settles at round N+1's barrier, after this check) and a
          // target derived from them births the new sketch already
          // saturated under geometric frontier growth.
          if (adaptive) lastRes.foreach { r =>
            val tested = r.discovered - r.dedupedExact // bloom-tested negatives
            val fp = r.enqueued - r.dedupedBloomDefinite // verified-new "might"s
            // hysteresis: a rebuild at round N first serves probes in round
            // N+1, so results settled for rounds ≤ N still measured the OLD
            // snapshot's FPR — acting on them would re-fire the rebuild (a
            // full exact-store scan) 1-2 more times for one saturation event
            // minimum-sample floor: below ceil(1/fpp) tested negatives even
            // TWO false positives at the threshold rate aren't expected, so
            // a single FP in a sparse tail round would read as saturation
            // and schedule a spurious full exact-store count/rebuild scan
            val minTested = math.ceil(1.0 / cfg.bloomFpp).toLong
            if (r.round >= fprMuteBelow &&
                tested >= minTested && fp.toDouble / tested > 2 * cfg.bloomFpp) {
              if (timing) System.err.println(
                f"[crawl] adaptive sketch: round ${r.round} measured FPR " +
                  f"${fp.toDouble / tested}%.4f > 2x${cfg.bloomFpp}; rebuild scheduled")
              sketchRebuild = true
              fprMuteBelow = round + 1
            }
          }
          val tRound = System.nanoTime()
          def phase(name: String, t0: Long): Long = {
            val t1 = System.nanoTime()
            if (timing) System.err.println(
              f"[crawl] r$round $name ${(t1 - t0) / 1e9}%.2fs @${System.currentTimeMillis()}")
            t1
          }
          val seenSketches = urlSeenPrev.getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.urlSeen))
          // run() is plan construction PLUS the rank materialization (the
          // sort cache + totals collect inside globalCumsumCached force
          // fetch+parse) — it overlaps the previous round's in-flight commit.
          // rankPriority: distinct + pin the accumulated edge set (the K
          // unrolled LinkRank iterations scan it 2K+1 times), rank it, and
          // hand the bucketed tiers to the round. The signal covers rounds
          // < this one, as it does on resume (parity). Lifecycle: the pin
          // backs this round's cached frames (priority embeds rank_bucket),
          // so it retires with them when commit round+1 settles.
          val edgesPin = hostEdges.map { e => val p = e.distinct().persist(); live += p; p }
          val hostRanks = edgesPin.map(e => graft.operators.LinkRank.bucketByRank(
            graft.operators.LinkRank.linkRank(e, cfg.rankIters), cfg.rankBuckets))
          val out = CrawlRound.run(frontier, seenExact, seenSketches, pagesCanon,
            robotsRules, cfg, round, base, robotsSource, hostRanks, staticDelays)
          live ++= out.persisted
          val tRun = phase("run+rank", tRound)

          // ---- hop round N's cross-round frames, still under commit N-1.
          // Each is computed exactly once, here; commit N writes the hopped
          // copy and round N+1 reads it. The hop is the frame's only pin.
          val hops = scala.collection.mutable.ArrayBuffer[DataFrame]()
          // newKeys first, alone: its hop materializes the cached new
          // entries that the frontier and the sketch delta read (hopped at
          // the same time, each re-ran part of that shared upstream: ~30%
          // more foreground task time). It is hopped (not just cached)
          // because seenExact_{N+1} embeds it, and ITS plan embeds
          // seenExact_N — an un-truncated chain recurses one full round-plan
          // per round (the linear cousin of the exponential frontier blowup
          // [[hop]] prevents)
          val newKeys = hop(out.newKeys)
          live += newKeys; hops += newKeys
          // always pass the loop's geometry for the bloom tier: on resume it
          // is the COMMITTED geometry (which may differ from cfg's if a
          // prior adaptive run resized) — deltas must match it to OR-merge
          val geo = if (cfg.filterKind == "bloom") Some(bloomGeo) else None
          // resize = REBUILD from the exact store (the ground truth): blooms
          // of different geometry cannot OR-merge. Sized HERE from the
          // actual key count — one extra count job over the committed store
          // + this round's hopped keys, paid only on the rare (hysteresis-
          // spaced) rebuild — so the new sketch carries 2× headroom over
          // what it will really hold, not over a two-round-stale counter.
          val rebuildGeo: Option[(Int, Int)] =
            if (!sketchRebuild) None
            else {
              sketchRebuild = false
              val n = seenExact.select("canon_url").unionByName(newKeys).count()
              val target = math.max(
                2L * n / cfg.numPartitions, cfg.bloomExpectedPerPartition)
              val g = BloomFilter.geometry(target, cfg.bloomFpp)
              // a same-or-smaller-size rebuild reproduces the merged bits
              // exactly (same keys, same geometry) — skip the scan
              if (g._1 > bloomGeo._1) Some(g) else None
            }
          val rebuiltThisRound = rebuildGeo.isDefined
          val sketchPlan = rebuildGeo match {
            case Some(g) =>
              if (timing) System.err.println(
                s"[crawl] adaptive sketch: rebuilding at ${g._1} bits (was ${bloomGeo._1})")
              bloomGeo = g
              buildSketchDelta(spark,
                seenExact.select("canon_url").unionByName(newKeys), cfg, Some(g))
            case None => urlSeenPrev match {
              case Some(prev) =>
                mergeSketches(prev, buildSketchDelta(spark, newKeys, cfg, geo))
              case None => buildSketchDelta(spark, newKeys, cfg, geo)
            }
          }
          // the rest at once: independent plans over pinned inputs
          def hopAsync(df: DataFrame) = Future(scala.util.Try(hop(df)))(hopEc)
          val frontierF = hopAsync(out.frontierNext)
          val sketchF = hopAsync(sketchPlan)
          val robotsF = out.robotsFetched.map(hopAsync)
          val edgesF = out.hostEdgesDelta.map(hopAsync)
          // every hop settles, and each one that succeeded is registered,
          // before a failed one rethrows: none is left running or unreleased
          (Seq(frontierF, sketchF) ++ robotsF ++ edgesF)
            .foreach(f => Await.result(f, Duration.Inf).foreach { h => live += h; hops += h })
          def hopped(f: Future[scala.util.Try[DataFrame]]): DataFrame =
            Await.result(f, Duration.Zero).get
          val frontierNext = hopped(frontierF)
          val sketchNext = hopped(sketchF)
          val robotsNew = robotsF.map(hopped)
          val edgesNew = edgesF.map(hopped)
          val tHop = phase("hop", tRun)

          // ---- barrier: settle round-1's commit before committing this one
          settle()
          val tBarrier = phase("barrier", tHop)
          if (lastRes.exists(noProgress)) {
            // the previous round turned out to be the drain: this round ran
            // SPECULATIVELY and is discarded uncommitted — committed state
            // stays identical to the sequential loop's. Its caches and hops
            // are in `live`, which the finally block releases right after.
            continue = false
          } else {
            // capture vals for the closure: the loop vars are reassigned at
            // handoff below, BEFORE the async commit reads them
            val thisBase = base
            val rulesAtRound = robotsRules
            val lineage = out.lineage(frontierNext)
            val fut = Future {
              var r: CrawlRound.RoundResult = null
              catalog.commit(out.round, Map(
                "fetch_log" -> out.fetchLog,
                "frontier" -> frontierNext,
                "url_seen" -> sketchNext,
                // near-empty every round: 32 one-file-per-task writes of a
                // ~100-row table are pure job overhead (the Iceberg target-
                // file-size behavior, done by hand)
                "denied" -> out.denied.coalesce(math.max(1, cfg.numPartitions / 8)),
                "lineage" -> lineage.coalesce(1))
                ++ robotsNew.map(rn => "robots_rules" -> rulesAtRound.unionByName(rn)),
                metrics = {
                // abandoned by the quiesce timeout? abort BEFORE the manifest
                // rename (this thunk runs between writes and publication)
                if (commitAbandoned.get) throw new IllegalStateException(
                  s"commit r${out.round} abandoned by quiesce timeout — not publishing")
                // by-name metrics: evaluated after the writes, reading the
                // Observations those writes fired — no jobs
                r = CrawlRound.result(out)
                Map(
                  "total_fetched" -> (thisBase + r.fetched),
                  "fetched" -> r.fetched,
                  "discovered" -> r.discovered,
                  "enqueued" -> r.enqueued,
                  "robots_denied" -> r.robotsDenied,
                  "deduped_bloom_definite" -> r.dedupedBloomDefinite,
                  "deduped_exact" -> r.dedupedExact,
                  "text_mismatches" -> r.textMismatches,
                  // driver-known: did THIS round's sketch come from a full
                  // adaptive rebuild? (observability + the hysteresis spec)
                  "sketch_rebuilt" -> (if (rebuiltThisRound) 1L else 0L))
              },
                // the monotone seen set is committed as a DELTA (this
                // round's new keys) — never a full rewrite. host_edges
                // likewise: the per-round distinct link-graph delta appends
                // onto the chain (rankPriority).
                appends = Map("url_seen_exact" -> newKeys) ++ edgesNew.map("host_edges" -> _),
                // once the quiesce timeout abandons this commit, it may
                // neither start further table writes nor publish
                abort = () => commitAbandoned.get)
              if (r == null) r = CrawlRound.result(out)
              r
            }(commitEc)
            inFlight = Some(InFlight(round, fut, out.persisted ++ edgesPin ++ hops))

            // ---- hand off state for round+1 IN MEMORY, overlapping commit
            // N: the hopped frames plus as-of reads anchored on SETTLED
            // manifests (≤ round-1), which start no job. Chains re-anchor on
            // parquet every round, so no handed-off plan reaches past one hop.
            frontier = frontierNext
            seenExact = catalog.load(spark, "url_seen_exact", Some(round - 1)).get
              .unionByName(newKeys)
            urlSeenPrev = Some(sketchNext)
            if (cfg.robotsFetchInLoop) {
              val settled = catalog.load(spark, "robots_rules", Some(round - 1)).get
              robotsRules = robotsNew.map(settled.unionByName).getOrElse(settled)
            }
            // host graph: settled delta chain (≤ round-1) + this round's
            // hopped delta — the deltas ≤ round that a resume reads back
            edgesNew.foreach { h =>
              hostEdges = Some(catalog.load(spark, "host_edges", Some(round - 1))
                .map(_.unionByName(h)).getOrElse(h))
            }
            base += out.fetchedCount
            phase("handoff", tBarrier)
            if (timing) System.err.println(
              f"[crawl] r$round LOOP ${(System.nanoTime() - tRound) / 1e9}%.2fs fetched=${out.fetchedCount}")
            round += 1
          }
        }
      }
      settle() // the last committed round
      results.toSeq
    } finally {
      hopEc.shutdown()
      commitEc.shutdown()
      // Quiesce BEFORE propagating anything: an exception mid-loop must not
      // leave the daemon thread free to publish a manifest after the caller
      // has already observed the failure (the caller would see round N-1 as
      // latest, then round N's manifest would appear asynchronously). If the
      // in-flight commit itself failed, the loop already threw from settle();
      // the Try here only absorbs that duplicate on the error path. The
      // await is FINITE (zero when settle() already waited out the window):
      // a wedged commit (hung filesystem write) must not block the finally
      // path forever and swallow the primary exception — on timeout the
      // commit is ABANDONED SAFELY, in three layers:
      //   1. the poison flag (commitAbandoned, polled by the catalog before
      //      each not-yet-started table write and again immediately before
      //      the manifest rename) stops the commit from publishing or
      //      starting new writes;
      //   2. cancelJobGroup kills the RUNNING table-write jobs — they run
      //      on the catalog's shared pool, which shutdownNow below cannot
      //      reach, and a wedged write would otherwise leak that pool's
      //      thread forever AND keep reading frames release(live) is about
      //      to unpin (plain cancelJobGroup, not ...AndFutureJobs: the
      //      latter blacklists the group id and would kill a same-JVM
      //      retry of this round);
      //   3. shutdownNow() interrupts the orchestrator thread blocked in
      //      the catalog's internal Await.
      // Net: no manifest for round N can appear after the caller observed
      // the crawl as failed (the abort poll is adjacent to the rename), and
      // no abandoned write outlives the quiesce to race a retry's .tmp
      // paths beyond cancellation-delivery latency.
      inFlight.foreach(f => scala.util.Try(
        Await.result(f.fut, if (commitWedged) Duration.Zero else commitWait)) match {
        case scala.util.Failure(_: java.util.concurrent.TimeoutException) =>
          commitAbandoned.set(true)
          spark.sparkContext.cancelJobGroup(StateCatalog.commitJobGroup(f.round))
          commitPool.shutdownNow()
          System.err.println(s"[crawl] finally: in-flight commit did not quiesce " +
            s"within ${cfg.commitQuiesceTimeoutSec}s — abandoned (publication " +
            "poisoned, write jobs cancelled, orchestrator interrupted); the " +
            "primary exception propagates")
        case _ =>
      })
      // release every frame the loop still pins — settled rounds' retired
      // caches and hopped copies AND any half-built round's, whichever
      // statement threw
      release(live.toSeq)
    }
  }

  final case class RecrawlResult(changed: Long, vanished: Long)

  /**
   * Re-crawl / delete path (op 46; BASELINE.json names "a cuckoo-filter
   * variant for deletions" as a headline capability). Given a NEW corpus
   * snapshot, reconcile the crawl state with it as one committed round:
   *
   *   - **changed** (strictly newer `warc_ts` for an already-seen
   *     canon_url): re-enqueued into the frontier at depth 0 — the next
   *     rounds re-fetch the new capture. They stay in `url_seen_exact`
   *     (seen == ever-enqueued, and the re-enqueue IS an enqueue), so the
   *     sketch needs no net edit for them under either filter tier.
   *   - **vanished** (seen, absent from the new corpus, not currently
   *     queued): evicted from `url_seen_exact`, and under the cuckoo tier
   *     their fingerprints are DELETED from the per-partition sketches —
   *     the filter stays exact and its capacity is reclaimed. The bloom
   *     tier cannot delete: its sketch keeps stale positives, which is
   *     CORRECT (a sketch positive only routes to the exact store, which
   *     was updated) but monotone-growing — the cuckoo tier is the
   *     reference's answer for exactly this path.
   *
   * Excluding currently-queued urls from eviction preserves the
   * `frontier ⊆ url_seen_exact` invariant the crawl loop relies on.
   */
  def recrawlChanged(
      spark: SparkSession,
      catalog: StateCatalog,
      cfg: CrawlConfig,
      pagesNew: DataFrame): RecrawlResult = {
    import spark.implicits._
    import graft.functions.UrlExpressions.{host_rev, url_host}
    val round = catalog.latestRound.getOrElse(
      throw new IllegalStateException("catalog not bootstrapped")) + 1
    val base = catalog.metricsOf(round - 1).getOrElse("total_fetched", 0L)
    val canonNew = CrawlRound.canonicalizePages(pagesNew)
      .repartition(cfg.numPartitions,
        CrawlRound.partitionIdOf(col("canon_url"), cfg.numPartitions))
    canonNew.persist()
    val canonOld = catalog.load(spark, "pages_canon").get.select(col("canon_url"), col("warc_ts"))
    val seen = catalog.load(spark, "url_seen_exact").get
    val frontier = catalog.load(spark, "frontier").get

    val changed = canonNew.select(col("canon_url"), col("warc_ts").as("ts_new"))
      .join(canonOld.withColumnRenamed("warc_ts", "ts_old"), Seq("canon_url"))
      .filter(col("ts_new") > col("ts_old"))
      .join(seen, Seq("canon_url"), "left_semi")
      .select("canon_url")
    changed.persist()
    val vanished = seen
      .join(canonNew.select("canon_url"), Seq("canon_url"), "left_anti")
      .join(frontier.select("canon_url"), Seq("canon_url"), "left_anti")
    vanished.persist()

    val seenNext = seen.join(vanished, Seq("canon_url"), "left_anti")

    val urlSeen = catalog.load(spark, "url_seen").get
    val sketchNext =
      if (cfg.filterKind == "cuckoo") {
        // partition-local fingerprint deletion: ship each partition's
        // eviction keys to its sketch row (grouped join, no driver hop)
        val edits = vanished
          .withColumn("partition_id",
            CrawlRound.partitionIdOf(col("canon_url"), cfg.numPartitions))
          .withColumn("key", xxhash64(col("canon_url")))
          .groupBy("partition_id").agg(collect_list(col("key")).as("del_keys"))
        urlSeen.join(edits, Seq("partition_id"), "left_outer")
          .select(col("partition_id"), col("kind"), col("sketch"), col("n_items"), col("del_keys"))
          .as[(Int, String, Array[Byte], Long, Seq[Long])]
          .map { case (pid, kind, bytes, n, dels) =>
            if (dels == null || dels.isEmpty) (pid, kind, bytes, n)
            else {
              val cf = graft.sketch.CuckooFilter.deserialize(bytes)
              var removed = 0L
              dels.foreach(k => if (cf.delete(k)) removed += 1)
              (pid, kind, cf.serialize(), n - removed)
            }
          }.toDF("partition_id", "kind", "sketch", "n_items")
      } else urlSeen

    val reEnqueued = changed.select(
      col("canon_url"), col("canon_url").as("raw_url"),
      url_host(col("canon_url")).as("host"),
      host_rev(url_host(col("canon_url"))).as("host_rev"),
      lit(0).as("depth"), lit(round).as("discovery_round"),
      lit(null).cast("string").as("src_url"))
    val frontierNext = CrawlRound.firstDiscoveryWins(frontier.unionByName(reEnqueued))

    // per-url observation log — one row per re-examined seen url, the
    // fetch-history input [[Revisit.schedule]] consumes. Committed as an
    // APPEND delta (monotone-growing, never rewritten) so the freshness
    // policy can look across every recrawl cycle.
    val observed = canonNew.select(col("canon_url"))
      .join(seen, Seq("canon_url"), "left_semi")
      .join(changed.withColumn("chg", lit(true)), Seq("canon_url"), "left_outer")
      .select(col("canon_url"), lit(round.toLong).as("round"),
        coalesce(col("chg"), lit(false)).as("changed"))

    val nChanged = changed.count()
    val nVanished = vanished.count()
    catalog.commit(round, Map(
      "pages_canon" -> canonNew,
      "frontier" -> frontierNext,
      "url_seen_exact" -> seenNext,
      "url_seen" -> sketchNext),
      Map("total_fetched" -> base, "fetched" -> 0L,
        "recrawl_changed" -> nChanged, "recrawl_vanished" -> nVanished),
      appends = Map("recrawl_log" -> observed))
    Seq(canonNew, changed, vanished).foreach(_.unpersist())
    RecrawlResult(nChanged, nVanished)
  }

  /** Seen urls DUE for re-examination at `atRound` under the freshness
    * backoff policy: [[Revisit.schedule]] over the committed `recrawl_log`
    * observation chain ([[recrawlChanged]] appends one observation per
    * re-examined url per cycle). Empty before any recrawl has run. This is
    * the candidate-selection half of the freshness loop — feed the result
    * into the next recrawl's fetch set (or the frontier's priority seam)
    * instead of re-examining the whole seen set every cycle. */
  def revisitDue(
      spark: SparkSession,
      catalog: StateCatalog,
      atRound: Long,
      baseInterval: Int = 1,
      maxDoublings: Int = 6): DataFrame =
    catalog.load(spark, "recrawl_log")
      .map(log => Revisit.schedule(log, baseInterval, maxDoublings, urlCol = "canon_url")
        .filter(col("next_due_round") <= atRound)
        .select(col("canon_url"), col("next_due_round")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("canon_url", "next_due_round")
      }

  /** Union of all committed fetch_log rounds 1..latest. */
  def fullFetchLog(spark: SparkSession, catalog: StateCatalog): DataFrame = {
    val latest = catalog.latestRound.getOrElse(return emptyFetchLog(spark))
    (0 to latest).flatMap(r =>
      if (r == 0) None
      else catalog.load(spark, "fetch_log", Some(r)))
      .reduceOption(_ unionByName _)
      .getOrElse(emptyFetchLog(spark))
  }
}
