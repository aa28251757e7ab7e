package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

import graft.functions.CrawlUdfs
import graft.functions.UrlExpressions.{canonicalize_url, host_rev, url_host}
import graft.operators.Ranks
import graft.sketch.{KeyHash, SeenFilter}

/**
 * One crawl round (SURVEY.md §3.1) as a single declarative dataflow:
 *
 *   frontier → scheme/depth filter → robots verdict (broadcast join) →
 *   host-budget window → global round budget (TakeOrdered) →
 *   host-clustered+salted layout, closed-form token-bucket schedule →
 *   fetch = equi-join against the canonical corpus →
 *   parse (links + text UDFs, explode) →
 *   seen-dedup of discoveries (Bloom negative-test + exact anti-join) →
 *   commit {frontier', url_seen', url_seen_exact', fetch_log, lineage}.
 *
 * Determinism contract (SURVEY.md §7.5.1): every ordering ends in
 * `canon_url`; discovery time is the round counter, never a clock; the
 * token-bucket clock is virtual. Outputs are identical at any local[k].
 *
 * Scale notes (the 1000-executor story):
 *   - the corpus is canonicalized+bucketed ONCE at bootstrap (pages_canon),
 *     so the per-round fetch join shuffles only the scheduled candidates —
 *     the 100 TB side stays put (bucket-pruned scan, column-pruned: html is
 *     read only by the parse projection);
 *   - robots is broadcast (≤ hosts count, small by construction);
 *   - the seen check is a Bloom *negative* test: "definitely new" URLs skip
 *     the exact store entirely; only might-contain URLs probe the exact
 *     anti-join, so its probe side shrinks to FP-rate + genuinely-seen;
 *   - fetch_seq uses the two-phase global rank (no single-partition window);
 *   - per-host state never crosses partitions: repartition on host hash.
 */
object CrawlRound {

  /** Round outputs + the frames run() persisted (caller unpersists after
    * commit — they back the committed writes, so not before).
    *
    * Metrics cost ZERO extra jobs AND sit above every cache: all round
    * counters are per-(partition, metric) rows of the ONE folded `lineage`
    * frame, and a single `observe()` (CollectMetrics) node on top of that
    * frame — the topmost node of the only plan that consumes it (the
    * lineage commit write) — re-aggregates them to round totals. No
    * CollectMetrics is ever buried inside a persisted subtree (a cached
    * observe is invisible to the metrics collector on some Spark versions),
    * and no observed frame feeds two written paths (double-registration).
    * The round-1 design ran 3-4 dedicated aggregate jobs per round — a
    * measured part of the serial per-round floor; the round-2 design hung
    * four observes under other tables' caches, which worked but contradicted
    * the discipline above. */
  final case class RoundOutput(
      round: Int,
      fetchLog: DataFrame,
      frontierNext: DataFrame,
      newKeys: DataFrame, // this round's newly-seen canon_urls — committed as the url_seen_exact APPEND delta
      denied: DataFrame,
      logged: DataFrame,
      lineage: DataFrame,
      robotsFetched: Option[DataFrame], // in-loop mode: newly acquired rules
      obsLineage: org.apache.spark.sql.Observation,
      robotsFetchedCount: Long, // in-loop mode: |missing hosts| this round (driver-known)
      // rankPriority: this round's distinct (src_host, dst_host) link-graph
      // delta — the loop folds it into the committed host_edges table
      hostEdgesDelta: Option[DataFrame],
      persisted: Seq[DataFrame],
      // rows in `logged` (== the round's `fetched` metric), known on the
      // driver the moment run() returns: the rank's counts pass collects
      // per-partition counts anyway. Lets the pipelined loop advance the
      // fetch_seq base for round N+1 while round N's commit (where the
      // fetched Observation fires) is still in flight.
      fetchedCount: Long)

  final case class RoundResult(
      round: Int,
      fetched: Long,
      discovered: Long,
      enqueued: Long,
      robotsDenied: Long,
      dedupedBloomDefinite: Long,
      dedupedExact: Long,
      textMismatches: Long,
      frontierLeft: Long,
      robotsFetched: Long = 0L)

  private val FrontierCols: Seq[String] =
    Seq("canon_url", "raw_url", "host", "host_rev", "depth", "discovery_round", "src_url")

  /** Materialized queue priority (op 16): ONE orderable struct column —
    * lexicographic (depth, discovery_round, host_rev, canon_url), ending in
    * canon_url ⇒ total order. Carried as a real column through the rank so
    * budget/sort/rank all consume the same materialized value. */
  def priorityCol: Column = priorityCol(ranked = false)

  /** `ranked = true` (CrawlConfig.rankPriority): a host-level `rank_bucket`
    * tier (0 = hottest, from LinkRank.bucketByRank) slots in after depth —
    * within a BFS layer, popular hosts schedule first and survive the round
    * budget first. The struct still ends in canon_url ⇒ total order, and
    * the bucket is host-constant ⇒ within-host rank order (what the
    * closed-form token bucket and HostTopK key on) is unchanged. */
  def priorityCol(ranked: Boolean): Column =
    if (ranked)
      struct(col("depth"), col("rank_bucket"), col("discovery_round"),
        col("host_rev"), col("canon_url"))
    else struct(col("depth"), col("discovery_round"), col("host_rev"), col("canon_url"))
  private def priorityOrder: Seq[Column] = Seq(col("priority").asc)

  def partitionIdOf(c: Column, p: Int): Column = pmod(xxhash64(c), lit(p)).cast("int")

  /** The URL-seen sketch probe (op 24): `keys` (any frame with a `canon_url`
    * column) comes back with a `might_seen` flag. Keys cogroup with the
    * `url_seen` rows' (partition_id, sketch) on the bucket id, so each task
    * deserializes ITS bucket's sketch once and streams that bucket's keys
    * through it — no sketch byte visits the driver, which the design point
    * needs (P = 2^15 × ~1.5 MB ≈ 48 GB can neither collect nor broadcast).
    * KeyHash is bit-identical to [[partitionIdOf]], so keys land exactly on
    * their build-side bucket (SURVEY §7.5.4). Absent bucket row ⇒ `true`
    * ("might be seen"): it can only send a key to the exact verify, never
    * let a seen one through. */
  def probeSeen(keys: DataFrame, sketchRows: DataFrame, p: Int): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val url = keys.schema.fieldIndex("canon_url")
    keys.groupByKey(r => KeyHash.pidOf(r.getString(url), p))
      .cogroup(sketchRows.select(col("partition_id"), col("sketch"))
        .as[(Int, Array[Byte])].groupByKey(_._1)) { (_, rs, ss) =>
        val filt = if (ss.hasNext) Some(SeenFilter.deserialize(ss.next()._2)) else None
        rs.map(r => Row.fromSeq(r.toSeq :+
          filt.forall(_.mightContain(KeyHash.of(r.getString(url))))))
      }(Encoders.row(keys.schema.add("might_seen", BooleanType, nullable = false)))
  }

  /** Politeness layout (op 47): repartition on (host, salt) where
    * salt = (host_rank−1) / hostSaltThreshold. Hosts at or under the
    * threshold get salt ≡ 0 — plain host clustering; a Zipf-hot host chunks
    * into threshold-sized salt groups spread across partitions, so no
    * partition ever owns more than `threshold` rows of one host. Legal only
    * because the round's schedule is the stateless closed form over
    * host_rank ([[TokenBucket.offsetByRank]]) — a split host's rows still
    * receive globally-correct offsets. Requires a `host_rank` column.
    *
    * The shuffle keys on the RAW (host, salt) tuple: `repartition(P, expr)`
    * runs the expression through HashPartitioning's own hash anyway, so a
    * pre-computed `pmod(xxhash64(...), P)` key would be hashed AGAIN —
    * collapsing P already-uniform ids onto ~0.63·P partitions (birthday
    * collisions of 8 ids in 8 buckets, measured as the salted layout coming
    * out LUMPIER than the plain one). State-table alignment does not apply
    * here (politeness partitioning is host-keyed, unlike the canon_url
    * bucketing shared with url_seen), so the natural key is correct. */
  def politenessLayout(cands: DataFrame, cfg: CrawlConfig): DataFrame = {
    val salt = floor((col("host_rank") - 1) / cfg.hostSaltThreshold).cast("int")
    cands.repartition(cfg.numPartitions, col("host"), salt)
  }

  /** Canonicalize + dedup the raw corpus into the fetchable form: one row
    * per canon_url, latest warc_ts wins (as-of, SURVEY op 29). Run once at
    * bootstrap, persisted bucket-shaped by the catalog. */
  def canonicalizePages(pages: DataFrame): DataFrame = {
    // As-of dedup WITHOUT carrying the html payload through an aggregation
    // buffer: max_by(struct(html,...)) falls back to sort-based aggregation
    // and copies every page body per comparison (profiled as the bootstrap
    // hot spot). Instead aggregate only the key (tiny hash agg), then
    // semi-join the full rows back. Real WARC input can hold same-second
    // recaptures of co-canonicalizing URLs, so warc_ts alone is not a total
    // order: a content hash breaks ties deterministically.
    // Byte-identical duplicate captures — the only rows that can still
    // share (canon_url, warc_ts, cap_h) after the hash tiebreak — collapse
    // on a SEPARATE tiny path whose keys come from a key-only count
    // aggregate, so page payloads never enter an aggregation or sort
    // buffer (a first()-agg on the mainstream path planned as
    // SortAggregate and re-copied every page body — the exact hot spot the
    // key-agg design exists to avoid). The mainstream semi join is hinted
    // shuffled-HASH (SMJ would sort the payload side; the winners side is
    // one tiny row per canon_url); the duplicate keys are broadcast (rare
    // by construction: they require byte-identical recaptures).
    val withCanon = pages.withColumn("canon_url", canonicalize_url(col("url")))
      .withColumn("cap_h", xxhash64(col("warc_ts"), col("html"), col("text"), col("lang")))
    val keys = Seq("canon_url", "warc_ts", "cap_h")
    val latest = withCanon.groupBy(col("canon_url"))
      .agg(max(struct(col("warc_ts"), col("cap_h"))).as("w"))
      .select(col("canon_url"), col("w.warc_ts").as("warc_ts"), col("w.cap_h").as("cap_h"))
    val dupWinners = withCanon.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).drop("n")
      .join(latest, keys, "left_semi")
    val outCols = Seq(col("canon_url"), col("warc_ts"), col("html"),
      col("text").as("ref_text"), col("lang"))
    val clean = withCanon.join(latest.hint("SHUFFLE_HASH"), keys, "left_semi")
      .join(broadcast(dupWinners), keys, "left_anti")
      .select(outCols: _*)
    val dupsOnePer = withCanon.join(broadcast(dupWinners), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      // min over the full payload struct, not first(): cap_h is 64-bit, so
      // two GENUINELY different same-second captures can collide on
      // (canon_url, warc_ts, cap_h) — first() would pick a winner
      // nondeterministically across partitionings. min(struct) is a total
      // order over the payload bytes themselves. This frame is tiny by
      // construction (byte-identical recaptures + the rare collision), so
      // the payload-through-sort-buffer cost the mainstream path avoids is
      // irrelevant here.
      .agg(min(struct(col("html"), col("text"), col("lang"))).as("w"))
      .select(col("canon_url"), col("warc_ts"), col("w.html").as("html"),
        col("w.text").as("ref_text"), col("w.lang").as("lang"))
    clean.unionByName(dupsOnePer)
  }

  /** Seed list → round-0 frontier (SURVEY op 2). */
  def seedFrontier(spark: SparkSession, seeds: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = seeds.toDF("raw_url")
      .withColumn("canon_url", canonicalize_url(col("raw_url")))
      .withColumn("host", url_host(col("canon_url")))
      .withColumn("host_rev", host_rev(col("host")))
      .withColumn("depth", lit(0))
      .withColumn("discovery_round", lit(0))
      .withColumn("src_url", lit(null).cast("string"))
    firstDiscoveryWins(df).select(FrontierCols.map(col): _*)
  }

  /** Within-batch dedup, deterministic: min-struct beats dropDuplicates'
    * arbitrary row (SURVEY op 23). */
  def firstDiscoveryWins(entries: DataFrame): DataFrame = {
    entries
      .groupBy(col("canon_url"))
      .agg(min(struct(col("depth"), col("discovery_round"), col("src_url"), col("raw_url"),
        col("host"), col("host_rev"))).as("e"))
      .select(col("canon_url"), col("e.raw_url").as("raw_url"), col("e.host").as("host"),
        col("e.host_rev").as("host_rev"), col("e.depth").as("depth"),
        col("e.discovery_round").as("discovery_round"), col("e.src_url").as("src_url"))
  }

  /** The round dataflow. `pagesCanon` is the bootstrap-canonicalized corpus;
    * `robotsRules` is (host, rules array) — broadcastable. */
  def run(
      frontier: DataFrame,
      seenExact: DataFrame, // canon_url
      seenSketches: DataFrame, // url_seen rows (partition_id, kind, sketch, n_items)
      pagesCanon: DataFrame,
      robotsRules: DataFrame,
      cfg: CrawlConfig,
      round: Int,
      fetchSeqBase: Long,
      robotsSource: Option[DataFrame] = None,
      // (host, rank_bucket) from LinkRank.bucketByRank over rounds < this
      // one — broadcast-joined as the priority's rank term (rankPriority)
      hostRanks: Option[DataFrame] = None,
      // sidecar mode: the crawl-lifetime (host, crawl_delay_ms) frame,
      // derived ONCE by the caller (None = no host declares a delay — the
      // schedule step skips the join). In-loop mode ignores this and
      // derives per round from the growing rules table.
      hostDelays: Option[DataFrame] = None): RoundOutput = {
    // ---- 1. eligibility: scheme + depth (pushable predicates, SURVEY 21/22)
    val eligibleAll = frontier
      .filter(col("canon_url").startsWith("http://") || col("canon_url").startsWith("https://"))
      .filter(col("depth") <= cfg.maxDepth)

    // ---- 1b. in-loop robots acquisition (op 31, behind cfg flag): hosts
    // with no rules entry get their robots.txt "fetched" THIS round (from
    // the robots source table = the web) while their page candidates defer
    // — they are neither scheduled nor denied, so the frontier construction
    // in step 11 retains them automatically for the next round.
    val (eligible, robotsNewOpt, missingHostsOpt, nRobotsFetched) = robotsSource match {
      case None => (eligibleAll, None, None, 0L)
      case Some(src) =>
        val known = robotsRules.select("host")
        val missingHosts = eligibleAll.select("host").distinct()
          .join(known, Seq("host"), "left_anti")
        missingHosts.persist()
        // count() driver-side, NOT an Observation: the new-rules frame is
        // handed to the NEXT round (its rules = prior ∪ these) as well as
        // written by this round's commit — two independent scans, and a
        // CollectMetrics node may only be attached to one executing query.
        // The count doubles as the eager materialization of the tiny cached
        // host set the broadcast anti-join below needs anyway.
        val nMissing = missingHosts.count()
        val fetchedRules = missingHosts.join(src, Seq("host"), "left_outer")
          // one body scan yields both facets (see robots_parse_ua);
          // missing robots.txt → empty rules = allow (RFC 9309), no delay
          .withColumn("p",
            CrawlUdfs.robots_parse_ua(col("robots_body"), lit(cfg.userAgent)))
          .select(col("host"), col("p._1").as("rules"), col("p._2").as("crawl_delay_ms"))
        val eligibleNow = eligibleAll.join(broadcast(missingHosts), Seq("host"), "left_anti")
        (eligibleNow, Some(fetchedRules), Some(missingHosts), nMissing)
    }

    // ---- 2. robots verdict (broadcast join + longest-match UDF, ops 28/14)
    val withRules = eligible.join(broadcast(robotsRules), Seq("host"), "left_outer")
    val judged = withRules.withColumn("allowed",
      CrawlUdfs.robots_allows(col("rules"), lit(cfg.userAgent), CrawlUdfs.urlPath(col("canon_url"))))
    val denied = judged.filter(!col("allowed"))
      .select(FrontierCols.map(col): _*)
    denied.persist() // committed as its own table; backs the lineage agg too
    // crawl_delay_ms (if the rules table carries it) is dropped here and
    // re-joined at the schedule step — the budget aggregate between them
    // must not widen its per-heap state for a column it never reads
    val allowed = judged.filter(col("allowed"))
      .drop("rules", "allowed", "crawl_delay_ms")

    // ---- 3. host budget (ops 38/47/49): bounded per-host top-k AGGREGATE —
    // map-side partial aggregation caps every mapper's contribution at k
    // rows per host, so the Zipf-hot host cannot serialize its full
    // candidate set through one window task (see HostTopK scaladoc). The
    // rank window remains only for the unbounded case (no top-k to take).
    val inBudget =
      if (cfg.hostBudget == Int.MaxValue && cfg.hostBudgets.isEmpty) {
        val hostW = Window.partitionBy(col("host"))
          .orderBy(col("depth").asc, col("discovery_round").asc, col("canon_url").asc)
        allowed.withColumn("host_rank", row_number().over(hostW))
      } else graft.operators.HostTopK.hostTopK(allowed, cfg.hostBudget, cfg.hostBudgets)

    // ---- 3b. link-rank priority tier (op 16 × q45, cfg.rankPriority):
    // host-level, so it joins AFTER the per-host budget (which it cannot
    // change — the bucket is constant within a host) and BEFORE everything
    // that consumes the priority struct (round budget, fetch_seq rank). The
    // rank side is hosts-sized ⇒ broadcast; unranked hosts (no inlinks seen
    // yet) take the coldest bucket.
    val (budgeted, prio) = hostRanks match {
      case None => (inBudget, priorityCol)
      case Some(hr) =>
        (inBudget.join(broadcast(hr), Seq("host"), "left_outer")
          .withColumn("rank_bucket", coalesce(col("rank_bucket"), lit(cfg.rankBuckets - 1))),
          priorityCol(ranked = true))
    }

    // ---- 4. global round budget (TakeOrderedAndProject, op 39).
    // Skipped when the budget is unbounded: TakeOrdered funnels the global
    // top-k through the driver, which is a pure serial tax when k exceeds
    // the candidate count (ordering is irrelevant here — step 5 repartitions
    // by host and re-sorts within partitions anyway).
    val scheduledCand =
      if (cfg.roundBudget == Int.MaxValue) budgeted
      else budgeted.orderBy(prio.asc).limit(cfg.roundBudget)

    // ---- 5. politeness: host-clustered, hot-host-SALTED layout + the
    // closed-form token-bucket schedule (ops 47/48).
    //
    // The schedule itself is the stateless closed form over host_rank
    // (TokenBucket.offsetByRank ≡ the stateful bucket, property-asserted by
    // CrawlSpec; host_rank is exactly the within-host arrival rank the
    // stateful form would see — HostTopK and the window both rank by
    // (depth, discovery_round, canon_url), and the global round budget only
    // ever takes a PREFIX of each host's rank order, since within a host the
    // priority order equals the rank order). Statelessness is what makes the
    // salt legal: a split host's rows still get globally-correct offsets.
    //
    // Layout: when the global budget was skipped, step 3's aggregate already
    // hash-partitioned by host and nothing since has re-shuffled — reuse
    // that partitioning (hot-host rows there are bounded by hostBudget, the
    // pre-shuffle cap). After the budget's TakeOrdered collapsed
    // partitioning, repartition on (host, salt): salt = (host_rank-1) /
    // hostSaltThreshold is 0 for every host under the threshold (plain host
    // clustering, byte-identical layout semantics) and chunks a Zipf-hot
    // host across partitions in threshold-sized groups — one host can no
    // longer own a straggler partition (SURVEY op 47's exact shape).
    val schedCols = Seq(col("canon_url"), col("host"), col("host_rev"), col("depth"),
      col("discovery_round"), col("host_rank")) ++
      (if (hostRanks.isDefined) Seq(col("rank_bucket")) else Nil)
    val clustered =
      if (cfg.roundBudget == Int.MaxValue) scheduledCand.select(schedCols: _*)
      else politenessLayout(scheduledCand.select(schedCols: _*), cfg)
    // robots Crawl-delay (op 13 × 48): hosts that declare one get a per-host
    // spacing floor in the closed form. The delay column rides a SECOND
    // broadcast join against the (already broadcast-sized) rules table —
    // threading it through the budget aggregate would widen HostTopK's
    // per-heap state for a column the budget never reads. The broadcast hash
    // join streams the probe side, so the clustered layout and within-
    // partition order survive intact (the salting-legality contract holds:
    // the delayed form is still a stateless per-row projection).
    val delays: Option[DataFrame] =
      if (!cfg.robotsFetchInLoop) hostDelays // hoisted by the caller (or None)
      else if (robotsRules.columns.contains("crawl_delay_ms"))
        Some(robotsRules.filter(col("crawl_delay_ms").isNotNull)
          .select(col("host"), col("crawl_delay_ms")))
      else None
    val delayed = delays match {
      case Some(d) => clustered.join(broadcast(d), Seq("host"), "left_outer")
      case None => clustered.withColumn("crawl_delay_ms", lit(null).cast("long"))
    }
    val scheduled = TokenBucket
      .scheduleByRankDelay(delayed, cfg.burst, cfg.ratePerSec)
      .drop("crawl_delay_ms")
    scheduled.persist() // reused by the fetch join AND the frontier anti-join

    // ---- 6. fetch = equi-join vs canonical corpus (op 27); left_outer keeps 404s
    val fetched = scheduled.join(pagesCanon, Seq("canon_url"), "left_outer")
      .withColumn("status", when(col("html").isNotNull, lit(200)).otherwise(lit(404)))

    // ---- 7. parse: links + text (ops 11/12/20); parity vs corpus text.
    // ONE fused UDF per page: the page bytes are UTF-8-decoded once and feed
    // both extractions (separate text/links UDFs decoded the ~20 KB twice —
    // the parse path is the crawl's memory-bandwidth ceiling, so every
    // page-sized copy counts). Both `parsed` references sit in one Project
    // after collapse; codegen subexpression elimination evaluates the UDF
    // once per row.
    val parsed = fetched
      .withColumn("parsed",
        when(col("status") === 200, CrawlUdfs.parse_page(col("html"), col("canon_url"))))
      .withColumn("outlinks",
        when(col("status") === 200, col("parsed.links")).otherwise(array()))
      .withColumn("text", col("parsed.text"))
      .drop("parsed")
      .withColumn("text_match",
        col("status") =!= 200 || (col("text") <=> col("ref_text")))

    // ---- 8. fetch_seq: two-phase global rank in priority order (op 41).
    // The rank's range-shuffle runs MULTIPLE jobs over its input (partition
    // sampling + count + output passes) — persist the parsed projection
    // first so the fetch join + parse (the round's heavy work) executes
    // once, not once per pass, and cache the rank's sorted intermediate so
    // the output pass re-reads sorted rows instead of re-sorting. Only
    // NARROW rows enter the rank: the outlink arrays stay behind in the
    // cache and the discovery path (step 9) reads them directly — the two
    // heavy paths decouple instead of serializing.
    val parseCache = parsed.select(col("canon_url"), col("host"), col("host_rev"), col("depth"),
      col("discovery_round"), col("scheduled_offset_ms"), col("status"),
      size(col("outlinks")).as("n_outlinks"),
      when(col("text").isNotNull, sha2(col("text"), 256)).as("text_sha256"),
      col("text_match"), prio.as("priority"), col("outlinks"))
    parseCache.persist()
    val (rankedSeq, rankSorted, nRanked) = Ranks.globalSeqCachedWithCount(
      parseCache.drop("outlinks"), "seq0", priorityOrder, cfg.numPartitions)
    val logged = rankedSeq
      .withColumn("fetch_seq", col("seq0") + lit(fetchSeqBase)).drop("seq0")
    logged.persist()

    val fetchLog = logged
      .select(lit(round).as("round"), col("canon_url"), col("fetch_seq"),
        col("scheduled_offset_ms"), col("status"), col("n_outlinks"), col("text_sha256"))
    // (logged no longer carries outlinks — n_outlinks/text columns suffice)

    // ---- 9. discoveries: explode outlinks, canonicalize, first-discovery-wins
    // (reads the parse cache directly — independent of the rank in step 8)
    val rawLinks = parseCache
      .select(col("canon_url").as("src_url"), col("depth").as("src_depth"),
        explode(col("outlinks")).as("raw_url"))
    val discovered = rawLinks
      .withColumn("canon_url", canonicalize_url(col("raw_url")))
      .filter(col("canon_url").startsWith("http://") || col("canon_url").startsWith("https://"))
      .withColumn("depth", col("src_depth") + 1)
      .filter(col("depth") <= cfg.maxDepth)
      .withColumn("host", url_host(col("canon_url")))
      .withColumn("host_rev", host_rev(col("host")))
      .withColumn("discovery_round", lit(round + 1))
      .select(FrontierCols.map(col): _*)
    val firstSeenInBatch = firstDiscoveryWins(discovered)

    // ---- 9b. host-graph delta for the rank signal (rankPriority): the
    // distinct CROSS-host edges observed in this round's parse, BEFORE
    // seen-dedup — a link to an already-crawled page still confers rank.
    // Self-edges (intra-host navigation) are dropped: they only inflate a
    // host's own score. Reads the persisted parse cache; distinct host
    // pairs are hosts²-bounded, tiny next to the discovery set.
    // persisted like every other frame that crosses the round boundary:
    // the commit thread appends it AND round+1's rank pin re-reads it —
    // without the pin each consumer re-runs the explode+canonicalize pass
    // over all outlinks (the distinct result is tiny; the scan is not)
    val hostEdgesDelta =
      if (!cfg.rankPriority) None
      else Some(discovered
        .select(url_host(col("src_url")).as("src"), col("host").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .persist())

    // ---- 10. seen-dedup: sketch negative test ⇒ definitely new; the rest
    // verify against the exact store (keeps exactness, shrinks the join).
    // One discovery shuffle, which the sketch-delta build pays anyway.
    val flagged = probeSeen(firstSeenInBatch, seenSketches, cfg.numPartitions)
    flagged.persist()
    val definitelyNew = flagged.filter(!col("might_seen")).drop("might_seen")
    val mustVerify = flagged.filter(col("might_seen")).drop("might_seen")
    val verifiedNew = mustVerify.join(seenExact, Seq("canon_url"), "left_anti")
    val newEntries = definitelyNew.unionByName(verifiedNew)
    newEntries.persist()

    // ---- 11. next state
    val scheduledKeys = scheduled.select(col("canon_url"))
    val deniedKeys = denied.select(col("canon_url"))
    // note: built from `eligibleAll`, not `frontier` — rows that can never
    // be fetched (bad scheme / over-depth seeds) must not pin the loop open.
    // `eligibleAll` (NOT the robots-deferral-filtered `eligible`): deferred
    // candidates were neither scheduled nor denied, so the anti-join
    // retains them for the round after their robots fetch.
    val frontierRetainedAndNew = eligibleAll
      .join(scheduledKeys.unionByName(deniedKeys), Seq("canon_url"), "left_anti")
      .unionByName(newEntries)
    // trap guard (cfg.hostFrontierCap): bound the committed frontier per
    // host via the same bounded-PQ aggregate as the fetch budget — the
    // map-side partial already caps every mapper at k rows per host, so a
    // trap host's millions of minted URLs never serialize through one
    // reducer. Kept = the per-host priority-order prefix; pruned keys are
    // already in newKeys/seen, so the prune is permanent (no rediscovery
    // churn). Invariant: |frontier ∩ host| ≤ cap after EVERY round.
    val frontierNext =
      if (cfg.hostFrontierCap == Int.MaxValue) frontierRetainedAndNew
      else graft.operators.HostTopK.hostTopK(frontierRetainedAndNew, cfg.hostFrontierCap)
        .select(FrontierCols.map(col): _*)

    // ---- 12. per-partition lineage (op 33, north_rule "per-partition
    // lineage + fetch/parse counters"), FOLDED: every counter is a narrow
    // (partition_id, metric, weight) projection over one of the round's
    // persisted frames, union'd into a SINGLE hash aggregate — one shuffle
    // and one write instead of five aggregate subtrees (per-round job count
    // was the measured scaling-efficiency floor). The round-total metrics
    // ride a single observe() on top of this frame — the topmost node of
    // the only plan that consumes it, above every cache (see RoundOutput).
    // one scan per source frame: each row fans out to ALL of its frame's
    // metrics through a single generator, instead of one branch (= one
    // cache scan + one task set) per metric — 8 scans folded to 5, same
    // single shuffle/aggregate
    def branch(df: DataFrame, metrics: (String, Column)*): DataFrame =
      df.select(partitionIdOf(col("canon_url"), cfg.numPartitions).as("partition_id"),
        explode(array(metrics.map { case (m, w) =>
          struct(lit(m).as("metric"), w.cast("long").as("w")) }: _*)).as("mw"))
        .select(col("partition_id"), col("mw.metric").as("metric"), col("mw.w").as("w"))
    val obsLineage = org.apache.spark.sql.Observation(s"lineage_r$round")
    def totalOf(metric: String): Column =
      sum(when(col("metric") === metric, col("value")).otherwise(0L)).as(metric)
    val lineage = Seq(
      branch(frontierNext, "frontier_rows" -> lit(1L)),
      branch(logged,
        "fetched" -> lit(1L),
        "parsed_ok" -> when(col("status") === 200, 1L).otherwise(0L),
        "text_mismatch" -> when(!col("text_match"), 1L).otherwise(0L)),
      branch(denied, "robots_denied" -> lit(1L)),
      branch(flagged,
        "discovered" -> lit(1L),
        "bloom_might" -> when(col("might_seen"), 1L).otherwise(0L)),
      branch(newEntries, "enqueued" -> lit(1L)))
      .reduce(_ unionByName _)
      .groupBy(col("partition_id"), col("metric"))
      .agg(sum(col("w")).as("value"))
      .withColumn("round", lit(round))
      .select("round", "partition_id", "metric", "value")
      .observe(obsLineage,
        totalOf("fetched"), totalOf("parsed_ok"), totalOf("text_mismatch"),
        totalOf("robots_denied"), totalOf("discovered"), totalOf("bloom_might"),
        totalOf("enqueued"))

    RoundOutput(round, fetchLog, frontierNext,
      newEntries.select(col("canon_url")), denied, logged, lineage,
      robotsNewOpt, obsLineage, nRobotsFetched, hostEdgesDelta,
      persisted = Seq(logged, parseCache, rankSorted, scheduled, newEntries, flagged, denied)
        ++ missingHostsOpt.toSeq ++ hostEdgesDelta.toSeq,
      fetchedCount = nRanked)
  }

  /** Round metrics — read from the Observation the lineage commit write
    * fired; ZERO dedicated jobs. Call strictly AFTER the commit returned. */
  def result(out: RoundOutput): RoundResult = {
    def v(o: org.apache.spark.sql.Observation, key: String): Long =
      o.get.get(key) match {
        case Some(l: Long) => l
        case Some(null) | None => 0L // sum() over an empty frame is null
        case Some(x) => x.toString.toLong
      }
    val nFetched = v(out.obsLineage, "fetched")
    val nMismatch = v(out.obsLineage, "text_mismatch")
    val nDiscovered = v(out.obsLineage, "discovered")
    val nMight = v(out.obsLineage, "bloom_might")
    val nNew = v(out.obsLineage, "enqueued")
    val nDenied = v(out.obsLineage, "robots_denied")
    val nVerifiedNew = nNew - (nDiscovered - nMight) // new = definitelyNew + verifiedNew
    RoundResult(
      round = out.round,
      fetched = nFetched,
      discovered = nDiscovered,
      enqueued = nNew,
      robotsDenied = nDenied,
      dedupedBloomDefinite = nDiscovered - nMight, // bloom said "definitely new"
      dedupedExact = nMight - nVerifiedNew, // truly seen (bloom positives that held)
      textMismatches = nMismatch,
      frontierLeft = -1L,
      robotsFetched = out.robotsFetchedCount)
  }
}
