package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.crawl.{Crawl, CrawlConfig, CrawlRound, HadoopSnapshotCatalog, FixtureGen}
import graft.dedup.Dedup
import graft.functions.{CrawlUdfs, UrlExpressions}
import graft.multimodal.Multimodal
import graft.operators.{LinkRank, Ranks}
import graft.sim.Similarity
import graft.text.TextAnalysis

/**
 * Driver contract (SURVEY.md §3.2): one named DataFrame per implemented
 * operator family, each with an equivalent DuckDB SQL oracle where the
 * semantics are SQL-expressible. Operator coverage map (SURVEY.md §2):
 *
 *   q01–q10  relational machinery: agg/joins/windows/rollup/as-of/sessions
 *            (ops 27–46 of §2.D–§2.H)
 *   q11–q20  crawl-domain: canonicalize/host_rev/url parse (6,7,9), set ops
 *            (44–46), first-discovery dedup (23), global budget (39),
 *            global seq (41), politeness token bucket (47,48), bloom (24,35),
 *            cuckoo (25), robots (13,14,28)
 *   q21–q31  training-data pipeline: lang-ID, quality, tokens, fingerprints,
 *            exact/ngram/minhash/simhash/embedding dedup, ANN
 *   q32–q35  multimodal plumbing, crawl end-to-end, winnowing
 *
 * Oracle parity discipline: every compared double is either produced by
 * identical single IEEE ops on integer-derived values (ratios, quantized
 * cosine) or by exact decimal summation cast to double at the end — never
 * by engine-ordered float accumulation (DuckDB's list_cosine_similarity is
 * float32; Spark's sum(double) is partial-agg-ordered — both are traps this
 * file deliberately avoids).
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- flagship: one crawl round over a deterministic synthetic web ------
  /** Flagship on sf0.001-equivalent scale; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = crawlFetchLog(spark, 300, 1)

  /** Generate a fixture web, bootstrap, run `rounds`, return the fetch log. */
  private def crawlFetchLog(spark: SparkSession, nPages: Int, rounds: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft_crawl").toString
    FixtureGen.write(spark, dir, nPages, nSeeds = 8, numPartitions = 8)
    // Measured floor composition at this 500-page toy scale (r5 profile,
    // GRAFT_CRAWL_TIMING, warm JVM): ~2.7 s fixture-gen + bootstrap + final
    // aggregate, then per round ~1.8 s run+rank (compute — ~15 toy-sized
    // Spark jobs, pure scheduler overhead at 8-40 fetches/round) + the
    // commit; the next round's compute overlaps the commit wall
    // (~0.5 s/round back). Committed bytes equal those of a crawl resumed
    // after every round (CrawlSpec parity), so the golden oracle does not
    // depend on the overlap.
    val cfg = CrawlConfig(numPartitions = 8, hostBudget = 8, roundBudget = 512,
      bloomExpectedPerPartition = 1 << 12)
    val catalog = new HadoopSnapshotCatalog(s"$dir/catalog")
    val pages = spark.read.parquet(s"$dir/pages.parquet")
    val robots = spark.read.parquet(s"$dir/robots.parquet")
    val seeds = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/seeds.txt"))).split("\n").toSeq
    Crawl.bootstrap(spark, catalog, pages, robots, seeds, cfg)
    Crawl.runRounds(spark, catalog, cfg, rounds)
    Crawl.fullFetchLog(spark, catalog).orderBy(col("fetch_seq"))
  }

  // ---- shared builders -----------------------------------------------------

  /** Messy-URL table derived from `customer` — exercises every RFC 3986
    * §6.2.2/§6.2.3 equivalence class the canonicalizer handles. */
  private def messyUrls(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey"),
      concat(lit("HTTP://WWW.EX"), pmod(col("c_custkey"), lit(20)), lit(".COM:80/a/./b/../c/x%2fy/%7Ez/p"),
        col("c_custkey"), lit("?id="), col("c_custkey"), lit("#f")).as("raw_url"))

  /** Synthetic frontier rows from `orders` (collisions by construction). */
  private def syntheticFrontier(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      concat(lit("https://h"), pmod(col("o_custkey"), lit(50)), lit(".com/o"),
        pmod(col("o_orderkey"), lit(1000))).as("canon_url"),
      concat(lit("https://h"), pmod(col("o_custkey"), lit(50)), lit(".com/o"),
        pmod(col("o_orderkey"), lit(1000)), lit("?r="), col("o_orderkey")).as("raw_url"),
      concat(lit("h"), pmod(col("o_custkey"), lit(50)), lit(".com")).as("host"),
      concat(lit("com.h"), pmod(col("o_custkey"), lit(50))).as("host_rev"),
      pmod(col("o_orderkey"), lit(5)).cast("int").as("depth"),
      pmod(col("o_orderkey"), lit(3)).cast("int").as("discovery_round"),
      concat(lit("https://s"), pmod(col("o_custkey"), lit(7))).as("src_url"))

  /** documents ∪ shifted copy — guarantees exact-duplicate groups. */
  private def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private def quantizedEmb(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").select(col("vec_id"), col("label"),
      Similarity.quantize(col("embedding")).as("qv"))

  // ---- the query map -------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- relational core (§2.D–H) ----------------
    "q01_tpch_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_join_broadcast" -> ((s, d) => {
      t(s, d, "orders").join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    "q03_join_multi" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "q04_window_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    "q05_anti_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q06_semi_join" -> ((s, d) => {
      t(s, d, "part")
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
        .orderBy(col("p_partkey"))
    }),

    "q07_rollup" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("day", to_date(col("ts")))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)
    }),

    "q08_asof_latest" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("e"))
        .select(col("user_id"), col("e.ts").as("ts"), col("e.event_id").as("event_id"),
          col("e.event_type").as("event_type"), col("e.value").as("value"))
        .orderBy(col("user_id"))
    }),

    "q09_tumbling_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    "q10_sessionize" -> ((s, d) => {
      // events.ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned UTC,
      // so the NTZ→LTZ cast is value-preserving and unix_micros applies.
      t(s, d, "events")
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
        .withColumn("new_sess",
          when(col("tus") - lag(col("tus"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id")))
            > 1800000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg((sum(col("new_sess")) + 1L).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // ---------------- crawl-domain ops ----------------
    "q11_url_canon" -> ((s, d) => {
      messyUrls(s, d)
        .select(col("c_custkey"), UrlExpressions.canonicalize_url(col("raw_url")).as("canon_url"))
        .orderBy(col("c_custkey"))
    }),

    "q12_url_parts" -> ((s, d) => {
      val canon = UrlExpressions.canonicalize_url(col("raw_url"))
      messyUrls(s, d)
        .select(col("c_custkey"),
          UrlExpressions.url_host(canon).as("host"),
          UrlExpressions.host_rev(UrlExpressions.url_host(canon)).as("host_rev"),
          CrawlUdfs.urlPath(canon).as("path"),
          // RFC 3986 §5.2 relative resolution against the canonical base
          CrawlUdfs.resolveUdf(canon, lit("../up")).as("resolved"))
        .orderBy(col("c_custkey"))
    }),

    "q13_set_ops" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey").as("k"))
      val o = t(s, d, "orders").select(col("o_custkey").as("k"))
      c.union(o).distinct().agg(count(lit(1)).as("n_union"))
        .crossJoin(c.intersect(o).agg(count(lit(1)).as("n_intersect")))
        .crossJoin(c.except(o).agg(count(lit(1)).as("n_except")))
    }),

    "q14_first_discovery" -> ((s, d) => {
      CrawlRound.firstDiscoveryWins(syntheticFrontier(s, d))
        .orderBy(col("canon_url"))
    }),

    "q15_global_budget" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .limit(1000)
    }),

    "q16_global_seq" -> ((s, d) => {
      // globalSeqPinned: the ranked OUTPUT is cached and forced, so the
      // frame stays correct no matter how many times the harness consumes
      // it (the sort intermediate — whose re-sampled range boundaries made
      // re-consumption silently wrong — is released inside). The small
      // output cache (3 narrow columns) lives for the session by design.
      Ranks.globalSeqPinned(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber")),
        "seq", Seq(col("l_orderkey").asc, col("l_linenumber").asc), 8)
        .orderBy(col("seq"))
    }),

    "q17_politeness" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy(col("host")).orderBy(col("canon_url"))
      val cands = t(s, d, "orders")
        .select(
          concat(lit("h"), pmod(col("o_custkey"), lit(50)), lit(".com")).as("host"),
          concat(lit("https://h"), pmod(col("o_custkey"), lit(50)), lit(".com/o"),
            col("o_orderkey")).as("canon_url"))
        .withColumn("host_rank", row_number().over(w))
        .filter(col("host_rank") <= 16)
        .withColumn("host_rev", UrlExpressions.host_rev(col("host")))
        .withColumn("depth", lit(0)).withColumn("discovery_round", lit(0))
        .select(col("canon_url"), col("host"), col("host_rev"), col("depth"),
          col("discovery_round"), col("host_rank").cast("int").as("host_rank"))
        .repartition(8, pmod(xxhash64(col("host")), lit(8)))
        .sortWithinPartitions(col("host"), col("canon_url"))
        .as[graft.crawl.Candidate]
      graft.crawl.TokenBucket.schedule(cands, burst = 4, ratePerSec = 2.0).toDF()
        .select(col("canon_url"), col("host"), col("host_rank"), col("scheduled_offset_ms"))
        .orderBy(col("canon_url"))
    }),

    "q18_bloom" -> ((s, d) => {
      val keys = t(s, d, "customer")
        .select(concat(lit("https://c"), col("c_custkey"), lit(".example.com/")).as("canon_url"))
      sketchMembership(s, keys, CrawlConfig(numPartitions = 8,
        bloomExpectedPerPartition = 1024, filterKind = "bloom"))
    }),

    "q19_cuckoo" -> ((s, d) => {
      val keys = t(s, d, "customer")
        .select(concat(lit("https://c"), col("c_custkey"), lit(".example.com/")).as("canon_url"))
      sketchMembership(s, keys, CrawlConfig(numPartitions = 8,
        bloomExpectedPerPartition = 1024, filterKind = "cuckoo"))
    }),

    "q20_robots" -> ((s, d) => {
      import s.implicits._
      val robots = s.range(50).select(
        concat(lit("h"), col("id"), lit(".com")).as("host"),
        when(pmod(col("id"), lit(2)) === 1,
          lit("User-agent: *\nDisallow: /priv")).otherwise(lit("User-agent: *\nDisallow:"))
          .as("robots_body"))
        .withColumn("rules", CrawlUdfs.robots_parse(col("robots_body")))
        .select("host", "rules")
      val urls = t(s, d, "orders").select(
        concat(lit("h"), pmod(col("o_custkey"), lit(50)), lit(".com")).as("host"),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          concat(lit("/priv/a"), col("o_orderkey")))
          .otherwise(concat(lit("/pub/a"), col("o_orderkey"))).as("path"))
        .withColumn("url", concat(lit("https://"), col("host"), col("path")))
      urls.join(broadcast(robots), Seq("host"), "left_outer")
        .withColumn("allowed",
          CrawlUdfs.robots_allows(col("rules"), lit("crawlerspark"), col("path")))
        .select(col("url"), col("host"), col("allowed"))
        .orderBy(col("url"))
    }),

    // ---------------- text analysis ----------------
    "q21_lang_id" -> ((s, d) => {
      // marker counts through the one-pass JVM kernel (bit-identical to the
      // staged declarative replace-trick the oracle mirrors — PipelineSpec
      // pins parity): one normalization + 20 indexOf scans per row instead
      // of 20 allocated replace() copies of the document
      val langs = TextAnalysis.langMarkers.map(_._1)
      val markers = TextAnalysis.langMarkers
        .flatMap { case (_, ws) => ws.map(w => s" $w ") }.toArray
      val mc = TextAnalysis.markerCountsUdf(markers)
      val nPerLang = TextAnalysis.langMarkers.head._2.size
      t(s, d, "documents")
        .select(col("doc_id"), mc(col("text")).as("mc"))
        .select(col("doc_id") +: langs.zipWithIndex.map { case (l, i) =>
          (0 until nPerLang).map(j => element_at(col("mc"), i * nPerLang + j + 1))
            .reduce(_ + _).as(s"s_$l")
        }: _*)
        .withColumn("pred_lang",
          TextAnalysis.langIdFromScores(langs.map(l => l -> col(s"s_$l"))))
        .orderBy(col("doc_id"))
    }),

    "q22_quality" -> ((s, d) => {
      // integer primitives through the one-pass kernel (spec-pinned ≡ the
      // declarative replace/regex counting the oracle mirrors); every ratio
      // stays the same declarative single IEEE division of those integers
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.quality_prims_udf(col("text")).as("qp"))
        .select(col("doc_id") +: TextAnalysis.qualityColumnsFromPrims(col("qp"))
          :+ TextAnalysis.qualityScoreFromPrims(col("qp")).as("quality_score"): _*)
        .orderBy(col("doc_id"))
    }),

    "q23_token_counts" -> ((s, d) => {
      // bpe_tokens through the one-pass JVM kernel (bit-identical to the
      // regexp_extract_all form the oracle mirrors — PipelineSpec pins
      // parity incl. unicode/whitespace edge cases): one code-point scan
      // per row instead of materializing every match into an array, and
      // no java.util.regex JIT sensitivity (the r4 q23 bench anomaly)
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenCountUdf(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q24_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- dedup ----------------
    "q25_dedup_exact" -> ((s, d) => {
      Dedup.exactDupGroups(docsWithDups(s, d))
        .select(col("fp"), col("n_dups"), col("keep_id"))
        .orderBy(col("fp"))
    }),

    "q26_ngram_jaccard" -> ((s, d) => {
      // compound blocking key (source × length bucket): all-pairs Jaccard is
      // the VERIFICATION primitive — its cost is quadratic per block, so the
      // block must have real cardinality. Blocking on source alone made one
      // near-degenerate block (37% of the whole round-1 bench); the length
      // bucket cuts candidate pairs ~50x while keeping true near-dups (whose
      // lengths agree) in-block. The scale path for unblocked discovery is
      // q27's LSH.
      val blocked = t(s, d, "documents").withColumn("blk",
        concat_ws("#", col("source"), floor(length(col("text")) / 32).cast("long")))
      Dedup.ngramJaccardPairs(blocked, "blk", minJ = 0.02, blockCap = 1000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q43_ngram_blocks" -> ((s, d) => {
      // the no-silent-caps census for q26's blocking key: every block's
      // cardinality + whether a cap would exclude it from the pair join.
      // The cap here (3) is deliberately tight so BOTH outcomes appear in
      // the oracle-compared output at sf0.01; q26 itself runs the
      // production cap (1000) where truncation only fires on adversarial
      // degenerate blocks (PipelineSpec pins that case).
      val blocked = t(s, d, "documents").withColumn("blk",
        concat_ws("#", col("source"), floor(length(col("text")) / 32).cast("long")))
      Dedup.blockStats(blocked, "blk", blockCap = 3)
        .orderBy(col("blk"))
    }),

    "q27_minhash_lsh" -> ((s, d) => {
      // kernel = true: one-pass JVM signature build, bit-identical to the
      // declarative explode+agg form the oracle mirrors (PipelineSpec
      // asserts parity for the crossEngine hasher used here)
      Dedup.minhashNearDupPairs(docsWithDups(s, d), k = 32, bands = 8, minJ = 0.5,
          kernel = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q28_simhash" -> ((s, d) => {
      // kernel = true: the one-pass JVM sketch build — bit-identical to the
      // declarative explode+agg form the oracle mirrors (PipelineSpec
      // asserts parity for the crossEngine hasher used here)
      Dedup.simhashNearDupPairs(docsWithDups(s, d), maxDist = 3, kernel = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q29_embedding_neardup" -> ((s, d) => {
      val e = quantizedEmb(s, d)
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("qv").as("qa"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("qv").as("qb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.intCosine(col("qa"), col("qb")))
        .filter(col("cos") >= 0.3)
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q30_ann_bruteforce" -> ((s, d) => {
      val e = quantizedEmb(s, d)
      val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("query_id"), col("qv").as("qq"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("qv").as("qc"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
      c.join(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", Similarity.intCosine(col("qq"), col("qc")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q31_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshAnnTopKExact(e, e.filter(col("vec_id") < 20), k = 5, nBits = 6, maxDim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---------------- multimodal / e2e / winnowing ----------------
    "q32_media_meta" -> ((s, d) => {
      Multimodal.mediaFromDocuments(t(s, d, "documents"))
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    "q33_media_features" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(t(s, d, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("mean_byte"))
        .orderBy(col("doc_id"))
    }),

    "q34_crawl_e2e" -> ((s, d) => {
      // Full crawl loop on the deterministic 500-page fixture, exported as
      // per-(round, status) aggregates. The oracle pins these as GOLDEN
      // values: DuckDB cannot run the crawl, but the fixture is a pure
      // function of its seed and the engine's determinism contract
      // (CrawlSpec: identical fetch_log across runs, across partitionings,
      // and across interrupt/resume) makes the aggregates stable — the
      // check catches any semantic drift of the loop, which a rows-only
      // count would not.
      crawlFetchLog(s, 500, 2)
        .groupBy(col("round"), col("status"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("n_outlinks")).as("sum_outlinks"),
          countDistinct(col("text_sha256")).as("n_texts"),
          min(col("fetch_seq")).as("min_seq"),
          max(col("fetch_seq")).as("max_seq"),
          sum(col("scheduled_offset_ms")).as("sum_offset_ms"))
        .orderBy(col("round"), col("status"))
    }),

    "q35_winnowing" -> ((s, d) => {
      // JVM kernel (monotonic-deque window min, md5 from the char buffer):
      // the declarative staged form is linear but pays ~50 ms/doc in
      // interpreted transform/slice trees — this is the one family where a
      // deterministic UDF beats higher-order functions. Kernel ≡ declarative
      // form is asserted by PipelineSpec; the DuckDB oracle mirrors both.
      t(s, d, "documents")
        .select(col("doc_id"), size(TextAnalysis.winnow_udf(col("text"))).as("n_fps"))
        .orderBy(col("doc_id"))
    }),

    "q36_cube" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("day", to_date(col("ts")))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)
    }),

    "q37_approx_distinct" -> ((s, d) => {
      // HLL++ estimate vs exact count. Estimator internals differ across
      // engines by design, so the ESTIMATE itself cannot be oracled — but
      // its error contract can: the oracle states the exact count plus
      // `approx_ok = true`, which the engine must reproduce by keeping the
      // HLL++ estimate within 3x the configured 5% rsd.
      t(s, d, "orders").agg(
        countDistinct(col("o_custkey")).as("exact_custkeys"),
        approx_count_distinct(col("o_custkey")).as("approx"))
        .select(col("exact_custkeys"),
          (abs(col("approx") - col("exact_custkeys")).cast("double")
            <= lit(0.15) * col("exact_custkeys").cast("double")).as("approx_ok"))
    }),

    "q42_embedding_neardup_lsh" -> ((s, d) => {
      // the 100 TB shape for embedding near-dup: block on a random-
      // hyperplane bucket (the block IS the index — computed once at
      // ingest and stored at scale) instead of a metadata label; verify
      // candidates with the exact integer cosine. Complements q29 (label-
      // blocked, the verification primitive) the way q27 complements q26.
      val signs = Similarity.rhpSigns(4, 64)
      val e = quantizedEmb(s, d)
        .withColumn("bucket", Similarity.rhpBucketQuantized(col("qv"), signs))
      val a = e.select(col("bucket"), col("vec_id").as("id_a"), col("qv").as("qa"))
      val b = e.select(col("bucket"), col("vec_id").as("id_b"), col("qv").as("qb"))
      a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.intCosine(col("qa"), col("qb")))
        .filter(col("cos") >= 0.35)
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q40_map_fns" -> ((s, d) => {
      // per-host fetch-status histogram as a MAP column (op 18):
      // map_from_entries → transform_values → element_at/map_keys, exploded
      // back to scalars so the oracle can state the same arithmetic
      val st = t(s, d, "orders").select(
        concat(lit("h"), pmod(col("o_custkey"), lit(50))).as("host"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(404)).otherwise(lit(200)).as("status"))
      st.groupBy(col("host"), col("status")).agg(count(lit(1)).as("n"))
        .groupBy(col("host"))
        .agg(map_from_entries(sort_array(collect_list(struct(col("status"), col("n"))))).as("m0"))
        .withColumn("m", transform_values(col("m0"), (_, v) => v * 100L))
        .select(col("host"),
          element_at(col("m"), 200).as("ok_x100"),
          element_at(col("m"), 404).as("miss_x100"),
          size(map_keys(col("m"))).as("n_statuses"))
        .orderBy(col("host"))
    }),

    "q41_json_fns" -> ((s, d) => {
      // JSON ops (op 19): build a JSON string with engine-independent
      // concatenation, then from_json + get_json_object extraction; the
      // to_json round-trip is checked engine-internally (rt_k)
      val j = t(s, d, "orders").select(col("o_orderkey"),
        concat(lit("{\"k\":"), col("o_orderkey"),
          lit(",\"s\":\""), col("o_orderstatus"),
          lit("\",\"arr\":["), pmod(col("o_orderkey"), lit(3)),
          lit(","), pmod(col("o_orderkey"), lit(5)), lit("]}")).as("js"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING, arr ARRAY<BIGINT>")
      j.select(col("o_orderkey"),
          from_json(col("js"), schema).as("p"),
          get_json_object(col("js"), "$.s").as("gjs"))
        .select(col("o_orderkey"), col("p.k").as("jk"), col("p.s").as("js"),
          element_at(col("p.arr"), 2).as("arr2"), col("gjs"),
          from_json(to_json(struct(col("p.k").as("k"))),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k").as("rt_k"))
        .orderBy(col("o_orderkey"))
    }),

    "q39_ivf_assign" -> ((s, d) => {
      // IVF coarse assignment: nearest of 8 centroid vectors per corpus
      // vector (integer-quantized cosine ⇒ exact cross-engine ordering)
      val e = t(s, d, "embeddings")
      Similarity.ivfAssign(e, e.filter(col("vec_id") < 8))
        .orderBy(col("vec_id"))
    }),

    "q44_ivf_search" -> ((s, d) => {
      // Full IVF search: 20 queries rank the 8 centroids, probe their 2
      // nearest cells' posting lists, brute-force only inside them (bounded
      // VecTopKAgg reduction). Integer-quantized cosine end-to-end ⇒ the
      // oracle reproduces assignment, probe choice and ranking exactly.
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
          e.filter(col("vec_id") >= 8 && col("vec_id") < 28), k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q45_linkrank" -> ((s, d) => {
      // link-graph rank for crawl prioritization: 3 fixed-point-integer
      // PageRank iterations over a deterministic synthetic edge table
      // (both engines derive identical edges arithmetically from lineitem,
      // and integral division keeps every iteration exactly reproducible)
      val edges = t(s, d, "lineitem").select(
        pmod(col("l_orderkey"), lit(997L)).as("src"),
        pmod(col("l_partkey"), lit(997L)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      LinkRank.linkRank(edges, iters = 3).orderBy(col("node"))
    }),

    "q46_host_budget" -> ((s, d) => {
      // PER-HOST budget (op 38's literal k = budget(host)): the bounded-PQ
      // aggregate with a tier map — two hosts override the default k. The
      // oracle states the same semantics as a rank window with a CASE'd cap.
      val fr = CrawlRound.firstDiscoveryWins(syntheticFrontier(s, d))
      graft.operators.HostTopK.hostTopK(fr, 4,
        budgets = Map("h3.com" -> 2, "h7.com" -> 9))
        .select(col("canon_url"), col("host"), col("host_rank"))
        .orderBy(col("canon_url"))
    }),

    "q47_rank_buckets" -> ((s, d) => {
      // frontier priority tiers (CrawlConfig.rankPriority): q45's link rank
      // bucketed by LinkRank.bucketByRank's pure-integer thresholds —
      // tier t ⇔ 1 + rank div 1e6 ≥ 2^(3−t), tier 0 hottest. Exactly the
      // (host → rank_bucket) table the crawl broadcast-joins into the
      // priority struct; the oracle restates the thresholds as a CASE.
      val edges = t(s, d, "lineitem").select(
        pmod(col("l_orderkey"), lit(997L)).as("src"),
        pmod(col("l_partkey"), lit(997L)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      LinkRank.bucketByRank(LinkRank.linkRank(edges, iters = 3), buckets = 4)
        .orderBy(col("host"))
    }),

    "q48_crawl_delay" -> ((s, d) => {
      // robots Crawl-delay → per-host politeness spacing (ops 13 × 48):
      // parse the directive with robots group semantics (exact-UA group
      // beats *, max-of-group wins, fractional seconds legal), then run
      // ranks 1..6 through the delay-aware closed form
      // (TokenBucket.offsetByRankDelay; burst 2, 2 fetches/s default →
      // 500 ms step, so a declared delay always dominates here). The
      // oracle restates the expected delays as a CASE by construction.
      val hosts = t(s, d, "customer")
        .select(pmod(col("c_custkey"), lit(60)).as("id")).distinct()
      val robots = hosts.select(
        concat(lit("d"), col("id"), lit(".com")).as("host"),
        col("id"),
        when(pmod(col("id"), lit(3)) === 0,
          concat(lit("User-agent: *\nCrawl-delay: "),
            lit(1) + pmod(col("id"), lit(5)), lit("\nDisallow: /priv")))
          .when(pmod(col("id"), lit(3)) === 1,
            lit("User-agent: crawlerspark\nCrawl-delay: 2.5\n\n" +
              "User-agent: *\nCrawl-delay: 9"))
          .otherwise(lit("User-agent: *\nDisallow:")).as("robots_body"))
        .withColumn("crawl_delay_ms",
          CrawlUdfs.robots_crawl_delay_ms(col("robots_body"), lit("crawlerspark")))
      robots
        .select(col("host"), col("crawl_delay_ms"),
          explode(sequence(lit(1), lit(6))).as("host_rank"))
        .withColumn("scheduled_offset_ms", graft.crawl.TokenBucket
          .offsetByRankDelay(col("host_rank"), 2, 2.0, col("crawl_delay_ms")))
        .select(col("host"), col("host_rank").cast("long").as("host_rank"),
          col("crawl_delay_ms"), col("scheduled_offset_ms"))
        .orderBy(col("host"), col("host_rank"))
    }),

    "q49_sitemap" -> ((s, d) => {
      // sitemap ingestion primitives (op 2 extension): robots_sitemaps
      // (group-independent directive, non-http filtered) feeding
      // sitemap_locs (<loc> scan: trim, entity decode, scheme filter).
      // Bodies are built by construction so the oracle can restate the
      // expected (host, sm_url, loc) rows without a parser.
      val hosts = t(s, d, "customer")
        .select(pmod(col("c_custkey"), lit(40)).as("id")).distinct()
      val withSm = hosts.filter(pmod(col("id"), lit(2)) === 0).select(
        concat(lit("s"), col("id"), lit(".com")).as("host"),
        concat(lit("User-agent: *\nSitemap: https://s"), col("id"),
          lit(".com/sm.xml\nDisallow: /x")).as("robots_body"),
        concat(lit("<urlset><url><loc>https://s"), col("id"),
          lit(".com/p1</loc></url><url><loc> https://s"), col("id"),
          lit(".com/p2?a=1&amp;b=2 </loc></url><url><loc>ftp://skip</loc></url></urlset>"))
          .as("xml"))
      withSm
        .select(col("host"),
          explode(CrawlUdfs.robots_sitemaps(col("robots_body"))).as("sm_url"),
          col("xml"))
        .select(col("host"), col("sm_url"),
          explode(CrawlUdfs.sitemap_locs(encode(col("xml"), "UTF-8"))).as("loc"))
        .orderBy(col("host"), col("loc"))
    }),

    "q50_stratified_sample" -> ((s, d) => {
      // deterministic stratified sample (training-data curation): best-10
      // docs per language by the cross-engine multiplicative-hash priority.
      // Bounded-PQ aggregate — NO per-stratum window, so the Zipf-hot
      // stratum never serializes — and only (stratum, pri, key) rides the
      // PQ; the payload (n_chars stands in for text) joins back afterwards
      // on the ≤ k·|strata|-row sample, a broadcast by construction.
      import graft.operators.StratifiedSample
      val docs = t(s, d, "documents")
      StratifiedSample.stratifiedTopK(
          docs, col("lang"), col("doc_id"),
          StratifiedSample.hashPri(col("doc_id")), k = 10)
        .join(docs.select(col("doc_id").as("key"), col("n_chars")), Seq("key"))
        .select(col("stratum").as("lang"), col("key").as("doc_id"), col("pri"),
          col("sample_rank"), col("n_chars"))
        .orderBy(col("lang"), col("sample_rank"))
    }),

    "q51_hash_split" -> ((s, d) => {
      // deterministic train/valid/test assignment (98/1/1 permille by key
      // hash): row-local projection — stable across reruns and appends,
      // unlike a random() split which re-deals every run. Summarized per
      // (lang, split); the oracle restates the bucket arithmetic.
      import graft.operators.StratifiedSample
      StratifiedSample.hashSplit(t(s, d, "documents"), col("doc_id"),
          Seq(("train", 980), ("valid", 990), ("test", 1000)))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    }),

    "q52_dup_clusters" -> ((s, d) => {
      // near-dup CLUSTER resolution: the pair finders (q27/q28/q42) emit
      // pairs; a pipeline keeps one doc per CONNECTED COMPONENT (A~B, B~C
      // must collapse even though (A,C) was never emitted). Alternating
      // large-star/small-star — O(log n) rounds, skew-safe — over the
      // verified minhash pairs; the oracle closes the same pair set with a
      // recursive CTE. docsWithDups guarantees every doc has its +1e6
      // exact copy, so every cluster has ≥ 2 members.
      import graft.dedup.DupClusters
      DupClusters.dupClusters(
          Dedup.minhashNearDupPairs(docsWithDups(s, d), k = 32, bands = 8,
            minJ = 0.5, kernel = true))
        .orderBy(col("doc_id"))
    }),

    "q53_repetition" -> ((s, d) => {
      // Gopher-style repetition filters: fraction of tokens in the top
      // unigram / top bigram, fraction of bigram occurrences that are
      // duplicates — the signals a curation pipeline thresholds to drop
      // machine-generated / boilerplate pages. Kernel = one-pass per-row
      // HashMap projection (no explode, no shuffle); each frac is ONE
      // int-derived IEEE division (cross-engine exact per the float rule).
      val p = TextAnalysis.repetition_prims_udf(col("text"))
      t(s, d, "documents")
        .withColumn("p", p)
        .select(col("doc_id"),
          element_at(col("p"), 1).as("n_tokens"),
          (element_at(col("p"), 2).cast("double") /
            greatest(element_at(col("p"), 1), lit(1L))).as("top_unigram_frac"),
          (element_at(col("p"), 4).cast("double") /
            greatest(element_at(col("p"), 3), lit(1L))).as("top_bigram_frac"),
          (element_at(col("p"), 5).cast("double") /
            greatest(element_at(col("p"), 3), lit(1L))).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    "q54_curation_pipeline" -> ((s, d) => {
      // the whole curation composition as ONE operator (annotate → filter →
      // exact dedup → near-dup cluster dedup → leakage-free split): every
      // stage is an already-oracle-checked operator, so the composition has
      // an exact end-to-end DuckDB mirror. Split is assigned AFTER dedup so
      // no near-dup pair can straddle train/test.
      import graft.operators.CuratePipeline
      CuratePipeline.curate(docsWithDups(s, d)).orderBy(col("doc_id"))
    }),

    "q55_decontaminate" -> ((s, d) => {
      // train/eval DECONTAMINATION: the benchmark-leakage gate a corpus
      // runs before it ships. Benchmark = the deterministic doc_id%97==0
      // slice standing in for an eval suite; a train doc is contaminated
      // when it shares any word-n-gram shingle with any benchmark doc.
      // The bench side reduces to its distinct shingle set (tiny vs the
      // corpus ⇒ broadcast); the train side is one explode + one hash agg.
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    }),

    "q56_boilerplate" -> ((s, d) => {
      // corpus-frequency BOILERPLATE signal (CCNet/C4 at shingle
      // granularity): a shingle present in ≥ 5% of all docs is boilerplate;
      // each doc reports its boilerplate shingle fraction for threshold
      // filtering. One doc-frequency hash agg + one semi-join — nothing
      // quadratic, nothing collected.
      Dedup.boilerplateStats(t(s, d, "documents"), minDocPermille = 50)
        .orderBy(col("doc_id"))
    }),

    "q57_domain_mix" -> ((s, d) => {
      // DOMAIN-MIX sampling under per-source token budgets (the Pile/Dolma
      // mixing move): per source, keep the maximal hash-priority prefix
      // whose cumulative whitespace-token count fits the source's budget.
      // Histogram-quota + exact-boundary plan — the naive per-stratum
      // running-sum window only ever runs over one ~1/nBuckets bucket.
      import graft.operators.StratifiedSample
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.wsTokenCount(col("text")))
      StratifiedSample.tokenBudgetSample(
          docs, col("source"), col("doc_id"), col("n_tokens"),
          defaultBudget = 700L, budgets = Map("src0" -> 600L, "src1" -> 900L))
        .select(col("stratum").as("source"), col("key").as("doc_id"),
          col("pri"), col("w").as("n_tokens"))
        .orderBy(col("source"), col("doc_id"))
    }),

    "q58_pii" -> ((s, d) => {
      // PII detection + redaction (the C4/Dolma scrub): the synthetic
      // corpus text is digit-free, so deterministic PII is injected per
      // doc_id — an email always, an IPv4 on every 3rd doc, a phone on
      // every 5th — making the counts non-trivial and the redacted text
      // md5-comparable. Row-local codegen'd regexp projection, no shuffle;
      // patterns restricted to the Java-regex ∩ RE2 subset so the oracle
      // compiles the identical automaton (TextAnalysis scaladoc).
      val pt = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" ip 10."), (col("doc_id") % 250).cast("string"),
            lit(".0."), (col("doc_id") % 200).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" tel 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), pt.as("pt"))
        .select(col("doc_id") +: TextAnalysis.piiCounts(col("pt")) :+
          md5(TextAnalysis.redactPii(col("pt"))).as("redacted_md5"): _*)
        .orderBy(col("doc_id"))
    }),

    "q59_segment_dedup" -> ((s, d) => {
      // corpus-level exact SEGMENT dedup, first-occurrence-wins (CCNet's
      // paragraph-dedup move — removes the duplicated pieces document-level
      // dedup never sees). docsWithDups guarantees every +1e6 copy's
      // segments all collide with the original's, so the copies keep ~0 and
      // originals keep everything not already shared between base docs.
      Dedup.segmentDedup(docsWithDups(s, d), segWords = 8)
        .select(col("doc_id"), col("n_segments"), col("n_kept"),
          col("kept_frac"), md5(col("deduped_text")).as("dedup_md5"))
        .orderBy(col("doc_id"))
    }),

    "q60_anchor_text" -> ((s, d) => {
      // anchor-text aggregation per link TARGET — the web-graph description
      // signal (search ranking / link-derived doc titles). Fixture HTML is
      // built inline from documents columns (q49's sitemap move) so the
      // REAL tag-soup parser runs — entity decode, nested-tag strip,
      // relative-href resolution all on the hot path — while the oracle
      // restates the expected parse output with plain string arithmetic.
      // Each page emits one unique absolute target and one shared relative
      // target (35 hot keys), so the aggregate sees both tails.
      val base = concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/page/"), col("doc_id").cast("string"))
      val html = concat(
        lit("<html><body><p>intro</p><a href=\"http://h"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com/p"), col("doc_id").cast("string"),
        lit("\">go &amp; see "), (col("doc_id") % 13).cast("string"),
        lit("</a> mid <a href='/rel"), (col("doc_id") % 5).cast("string"),
        lit("'>rel <b>link</b> "), (col("doc_id") % 3).cast("string"),
        lit("</a></body></html>"))
      t(s, d, "documents")
        .select(explode(
          CrawlUdfs.extract_anchors(encode(html, "UTF-8"), base)).as("a"))
        .select(col("a._1").as("href"), col("a._2").as("anchor"))
        .groupBy(col("href"))
        .agg(count(lit(1)).as("n_refs"),
          countDistinct(col("anchor")).as("n_anchors"),
          min(col("anchor")).as("first_anchor"))
        .orderBy(col("href"))
    }),

    "q61_kmeans" -> ((s, d) => {
      // distributed Lloyd's k-means — the IVF coarse-quantizer TRAINER
      // (q39/q44 consumed fixture centroids; this is where they come from
      // at ingest). 3 iterations from the k-lowest-id init; nearest-cell is
      // a row-local JVM argmin over the centroid matrix feeding one
      // map-side-combinable vector-sum aggregate per iteration (k×(dim+1)
      // longs through the exchange, MLlib's broadcast-state loop shape).
      // All-integer arithmetic ⇒ the oracle replays the identical
      // iterations as unrolled CTEs, bit-exact.
      Similarity.kmeansFit(t(s, d, "embeddings"), k = 8, iters = 3)._2
        .orderBy(col("vec_id"))
    }),

    "q62_semdedup" -> ((s, d) => {
      // SemDeDup (arXiv:2303.09540): the k-means cells bound the near-dup
      // quadratic: one exchange by cell, then each task walks its cells'
      // members in id order and drops any vector with cosine ≥ τ to a
      // lower-id same-cell sibling (no pair becomes a row).
      Similarity.semDedup(t(s, d, "embeddings"), k = 8, iters = 3, threshold = 0.35)
        .orderBy(col("vec_id"))
    }),

    "q63_blocklist" -> ((s, d) => {
      // subdomain-aware domain-blocklist matching (the UT1/C4-style URL
      // gate): hosts synthesized from orders — every 3rd key an apex, the
      // rest subdomains — so 'd3.com' must catch s*.d3.com while near-miss
      // apexes stay clean, and the mixed-case entry exercises folding.
      // Matching is a host_rev PREFIX test against the broadcast list: one
      // corpus scan, no shuffle of the big side.
      import s.implicits._
      val hosts = t(s, d, "orders").select(
        when(col("o_orderkey") % 3 === 0,
          concat(lit("d"), (col("o_custkey") % 25).cast("string"), lit(".com")))
          .otherwise(concat(lit("s"), (col("o_orderkey") % 4).cast("string"),
            lit(".d"), (col("o_custkey") % 25).cast("string"), lit(".com"))).as("host"))
      val block = Seq("d3.com", "d7.com", "s1.d11.com", "D19.COM").toDF("domain")
      graft.urls.Blocklist.matchBlocked(hosts, col("host"), block)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_hits"), countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("domain"))
    }),

    "q64_ngram_stats" -> ((s, d) => {
      // corpus-wide bigram frequency top-k (vocabulary statistics): gram
      // generation row-local, ONE partial-aggregated count, TakeOrdered on
      // top — never a global sort of the gram table.
      TextAnalysis.ngramCounts(t(s, d, "documents"), col("text"), n = 2)
        .orderBy(col("cnt").desc, col("gram")).limit(20)
    }),

    "q65_rare_tokens" -> ((s, d) => {
      // corpus-vocabulary OOV stats (C4's non-dictionary-word gate,
      // dictionary = the corpus's own top-256 unigrams): vocab pass is
      // TakeOrdered + broadcast, doc pass is one aggregate; floored
      // integer permille keeps the oracle exact.
      TextAnalysis.rareTokenStats(t(s, d, "documents"),
          col("doc_id"), col("text"), vocabSize = 256)
        .orderBy(col("doc_id"))
    }),

    "q66_incremental_dedup" -> ((s, d) => {
      // ingest-time incremental dedup: the +1e6 copies are "today's batch",
      // the originals the already-indexed corpus — only pairs touching the
      // batch are produced (new×old, new×new; old×old was found at ITS
      // ingest). The oracle is the full q27 run filtered to the batch,
      // which is exactly the operator's equivalence contract.
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val fresh = base.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.incrementalNearDupPairs(base, fresh, k = 32, bands = 8, minJ = 0.5,
          kernel = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q67_seq_pack" -> ((s, d) => {
      // sequence-packing manifest (concat-and-chunk): docs concatenated in
      // doc_id order, cut into 64-token training sequences; one row per
      // (chunk, doc) span. The global token offset is the two-phase prefix
      // sum (Ranks.globalCumsumPinned) — no single-partition window. The
      // pin is left to the harness's between-query clearCache.
      graft.operators.SeqPack.packManifest(t(s, d, "documents"), seqLen = 64)._1
        .orderBy(col("chunk_id"), col("doc_id"))
    }),

    "q68_revisit" -> ((s, d) => {
      // freshness-driven revisit scheduling: exponential backoff on the
      // per-url unchanged streak (capped), from a deterministic synthetic
      // fetch history — one per-key window + one aggregate, single
      // exchange, all-integer.
      val hist = t(s, d, "orders").select(
        concat(lit("https://h"), (col("o_custkey") % 40).cast("string"),
          lit(".com/p"), (col("o_orderkey") % 500).cast("string")).as("url"),
        (col("o_orderkey") % 7).cast("long").as("round"),
        (col("o_orderkey") % 3 === 0).as("changed"))
      graft.crawl.Revisit.schedule(hist, baseInterval = 2, maxDoublings = 4)
        .orderBy(col("url"))
    }),

    "q69_source_quality" -> ((s, d) => {
      // source-level quality rollup (RefinedWeb-style domain gate): mean
      // quality per source as an exact floored-integer permille — one
      // aggregate; the kept flag is the broadcast gate q22's per-doc score
      // feeds at corpus scale.
      TextAnalysis.sourceQualityStats(t(s, d, "documents"), col("source"), col("text"))
        .withColumn("kept", col("avg_quality_permille") >= 600L)
        .orderBy(col("source"))
    }),

    "q38_salted_join" -> ((s, d) => {
      // manual skew salting (SURVEY op 30): Zipf-hot join key — explode the
      // small side with salt 0..k-1, salt the fact side by hash, join on
      // (key, salt). Result must equal the plain join — which is exactly
      // what the oracle states in unsalted SQL.
      val k = 8
      val fact = t(s, d, "lineitem").select(
        pmod(col("l_orderkey"), lit(10)).as("hot_key"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(k)))
      val dim = t(s, d, "region").select(
        col("r_regionkey").cast("long").as("hot_key"), col("r_name"))
        .unionByName(t(s, d, "region").select(
          (col("r_regionkey") + 5).cast("long").as("hot_key"), col("r_name")))
      val dimSalted = dim.withColumn("salt", explode(sequence(lit(0L), lit(k - 1L))))
      fact.join(dimSalted, Seq("hot_key", "salt"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("r_name"))
    }))

  /** Build partitioned sketches over `keys`, probe every key back through
    * the crawl's own map-side probe ([[CrawlRound.probeSeen]] — same bucket
    * routing and absent-bucket rule as the loop): (n_keys, false_negatives)
    * — the membership contract is zero false negatives, which the SQL
    * oracle states as a constant the engine must reproduce. */
  private def sketchMembership(s: SparkSession, keys: DataFrame, cfg: CrawlConfig): DataFrame =
    CrawlRound.probeSeen(keys, Crawl.buildSketchDelta(s, keys, cfg), cfg.numPartitions)
      .agg(count(lit(1)).as("n_keys"),
        sum(when(!col("might_seen"), 1L).otherwise(0L)).as("false_negatives"))

  // ---- DuckDB oracle SQL ---------------------------------------------------

  /** SQL snippet: normalized text of `c` (mirror of TextAnalysis.normText). */
  private def sqlNorm(c: String): String =
    s"trim(regexp_replace(lower($c), '\\s+', ' ', 'g'))"
  private def sqlPadded(c: String): String = s"(' ' || ${sqlNorm(c)} || ' ')"
  /** Mirror of TextAnalysis.countOcc (replace-trick, integer-exact). */
  private def sqlCountOcc(expr: String, token: String): String =
    s"CAST((length($expr) - length(replace($expr, '$token', ''))) / ${token.length} AS BIGINT)"
  private def sqlLangScore(lang: String): String =
    TextAnalysis.langMarkers.toMap.apply(lang)
      .map(w => sqlCountOcc("pt", s" $w ")).mkString("(", " + ", ")")
  /** Mirror of Dedup.shingles: distinct word-3-gram list over tokens `t`. */
  private val sqlShingles: String =
    "list_distinct(CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [nt] END)"
  /** Mirror of Similarity.quantize/intCosine over list columns a/b. */
  private def sqlQv(col: String): String =
    s"list_transform($col, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))"
  private def sqlIntDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"
  private def sqlIntCos(a: String, b: String): String = {
    val nn = s"(sqrt(CAST(${sqlIntDot(a, a)} AS DOUBLE)) * sqrt(CAST(${sqlIntDot(b, b)} AS DOUBLE)))"
    s"(CASE WHEN $nn = 0.0 THEN 0.0 ELSE CAST(${sqlIntDot(a, b)} AS DOUBLE) / $nn END)"
  }
  /** Mirror of graft.functions.Hash64.h64 (md5-derived 60-bit hash). */
  private def sqlH64(e: String): String = graft.functions.Hash64.sql(e)
  /** Mirror of Hash64.permutePair (Kirsch–Mitzenmacher double hashing):
    * hash_i = (h1 + i·h2) mod 2^60, exact via HUGEINT intermediates — the
    * Spark side computes the identical value with a 30/30-bit split product
    * so no BIGINT intermediate wraps. */
  private def sqlKm(h1: String, h2: String, i: String): String =
    // every operand HUGEINT BEFORE the multiply: i*h2 in INT64 overflows at i>=9
    s"CAST((($h1)::HUGEINT + ($i)::HUGEINT * ($h2)::HUGEINT) % ${graft.functions.Hash64.Mod60} AS BIGINT)"
  /** docsWithDups mirror. */
  private val sqlD2: String =
    "SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000, text FROM documents"
  /** Rademacher sign lists for the q31 LSH mirror — same derivation as
    * Similarity.rhpSigns, inlined as SQL list literals. */
  /** Unrolled Lloyd's-k-means CTE chain mirroring Similarity.kmeansFit
    * bit-for-bit: init c0 = the k lowest-vec_id quantized vectors;
    * iteration t = assignment a{t} (argmin of exact BIGINT squared-L2,
    * ties to the lowest cell) then per-dim floored-integer-mean update
    * c{t+1} (empty cells keep their centroid via the LEFT JOIN coalesce);
    * `af` = the final assignment under c{iters}. Floor division is spelled
    * `(s - ((s % n + n) % n)) / n` — the subtraction makes the numerator
    * exactly divisible, so the quotient is exact in any division
    * semantics (Math.floorDiv on the Spark side). The distance is cast to
    * BIGINT: DuckDB's `list_sum` over BIGINT returns HUGEINT, Spark's sum
    * is a long. */
  private def sqlKmeansCtes(k: Int, iters: Int, dim: Int): String = {
    def dist(qv: String, cv: String) =
      s"CAST(list_sum(list_transform(range(1, $dim+1), i -> ($qv[i]-$cv[i])*($qv[i]-$cv[i]))) AS BIGINT)"
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, qv, cell, dist FROM (
         |  SELECT vec_id, qv, cell, dist,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM (SELECT e.vec_id, e.qv, c.cell, ${dist("e.qv", "c.cv")} AS dist
         |        FROM e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),\n"
    sb ++= s"dims AS (SELECT unnest(range(1, $dim+1)) AS i),\n"
    sb ++= s"c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell, qv AS cv\n" +
      s"       FROM (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT $k)),\n"
    for (t <- 0 until iters) {
      sb ++= assign(s"a$t", s"c$t") + ",\n"
      sb ++= s"s$t AS (SELECT cell, i, sum(qv[i]) AS s, count(*) AS n FROM a$t CROSS JOIN dims GROUP BY cell, i),\n"
      sb ++= s"""c${t + 1} AS (SELECT cell, list(v ORDER BY i) AS cv FROM (
                |  SELECT p.cell, d.i,
                |         CASE WHEN s.n IS NULL THEN p.cv[d.i]
                |              ELSE CAST((s.s - ((s.s % s.n + s.n) % s.n)) / s.n AS BIGINT) END AS v
                |  FROM c$t p CROSS JOIN dims d
                |  LEFT JOIN s$t s ON s.cell = p.cell AND s.i = d.i) GROUP BY cell),
                |""".stripMargin
    }
    sb ++= assign("af", s"c$iters")
    sb.toString
  }

  private def sqlSigns(nBits: Int, dim: Int): String =
    Similarity.rhpSigns(nBits, dim).zipWithIndex.map { case (row, j) =>
      row.mkString("[", ",", s"]::BIGINT[] AS s$j")
    }.mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "q01_tpch_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(*) AS n,
        | sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q02_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_join_multi" ->
      """SELECT r_name, n_name, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q04_window_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q06_semi_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q07_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,

    "q08_asof_latest" ->
      """SELECT user_id, ts, event_id, event_type, value FROM (
        | SELECT user_id, ts, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q09_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q10_sessionize" ->
      """WITH f AS (
        | SELECT user_id,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        |  THEN 1 ELSE 0 END AS fl
        | FROM events)
        |SELECT user_id, CAST(sum(fl) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_url_canon" ->
      """SELECT c_custkey,
        | 'http://www.ex' || (c_custkey % 20) || '.com/a/c/x%2Fy/~z/p' || c_custkey
        |   || '?id=' || c_custkey AS canon_url
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q12_url_parts" ->
      """SELECT c_custkey,
        | 'www.ex' || (c_custkey % 20) || '.com' AS host,
        | array_to_string(list_reverse(string_split('www.ex' || (c_custkey % 20) || '.com', '.')), '.') AS host_rev,
        | '/a/c/x%2Fy/~z/p' || c_custkey || '?id=' || c_custkey AS path,
        | 'http://www.ex' || (c_custkey % 20) || '.com/a/c/x%2Fy/up' AS resolved
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q13_set_ops" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM
        |   (SELECT c_custkey AS k FROM customer UNION SELECT o_custkey FROM orders)) AS n_union,
        | (SELECT CAST(count(*) AS BIGINT) FROM
        |   (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)) AS n_intersect,
        | (SELECT CAST(count(*) AS BIGINT) FROM
        |   (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)) AS n_except""".stripMargin,

    "q14_first_discovery" ->
      """WITH fr AS (
        | SELECT 'https://h' || (o_custkey % 50) || '.com/o' || (o_orderkey % 1000) AS canon_url,
        |  'https://h' || (o_custkey % 50) || '.com/o' || (o_orderkey % 1000) || '?r=' || o_orderkey AS raw_url,
        |  'h' || (o_custkey % 50) || '.com' AS host,
        |  'com.h' || (o_custkey % 50) AS host_rev,
        |  CAST(o_orderkey % 5 AS INTEGER) AS depth,
        |  CAST(o_orderkey % 3 AS INTEGER) AS discovery_round,
        |  'https://s' || (o_custkey % 7) AS src_url
        | FROM orders)
        |SELECT canon_url, raw_url, host, host_rev, depth, discovery_round, src_url FROM (
        | SELECT *, row_number() OVER (PARTITION BY canon_url
        |  ORDER BY depth, discovery_round, src_url, raw_url, host, host_rev) AS rn
        | FROM fr) WHERE rn = 1 ORDER BY canon_url""".stripMargin,

    "q15_global_budget" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 1000""".stripMargin,

    "q16_global_seq" ->
      """SELECT l_orderkey, l_linenumber,
        | row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS seq
        |FROM lineitem ORDER BY seq""".stripMargin,

    "q17_politeness" ->
      """WITH u AS (
        | SELECT 'h' || (o_custkey % 50) || '.com' AS host,
        |  'https://h' || (o_custkey % 50) || '.com/o' || o_orderkey AS canon_url
        | FROM orders),
        |r AS (SELECT host, canon_url,
        |  row_number() OVER (PARTITION BY host ORDER BY canon_url) AS host_rank FROM u)
        |SELECT canon_url, host, CAST(host_rank AS INTEGER) AS host_rank,
        | CAST(greatest(0, host_rank - 4) * 500 AS BIGINT) AS scheduled_offset_ms
        |FROM r WHERE host_rank <= 16 ORDER BY canon_url""".stripMargin,

    "q18_bloom" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(0 AS BIGINT) AS false_negatives FROM customer",

    "q19_cuckoo" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(0 AS BIGINT) AS false_negatives FROM customer",

    "q20_robots" ->
      """WITH u AS (
        | SELECT 'h' || (o_custkey % 50) || '.com' AS host,
        |  (o_custkey % 50) % 2 AS odd_host,
        |  CASE WHEN o_orderkey % 3 = 0 THEN '/priv/a' || o_orderkey
        |       ELSE '/pub/a' || o_orderkey END AS path,
        |  o_orderkey % 3 AS m3
        | FROM orders)
        |SELECT 'https://' || host || path AS url, host,
        | NOT (odd_host = 1 AND m3 = 0) AS allowed
        |FROM u ORDER BY url""".stripMargin,

    "q21_lang_id" -> {
      val scores = TextAnalysis.langMarkers.map { case (l, _) => s"${sqlLangScore(l)} AS s_$l" }
      val best = s"greatest(${TextAnalysis.langMarkers.map(m => s"s_${m._1}").mkString(", ")})"
      val total = TextAnalysis.langMarkers.map(m => s"s_${m._1}").mkString(" + ")
      val cases = TextAnalysis.langMarkers.map { case (l, _) =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'" }.mkString(" ")
      s"""WITH p AS (SELECT doc_id, ${sqlPadded("text")} AS pt FROM documents),
         |s AS (SELECT doc_id, ${scores.mkString(", ")} FROM p)
         |SELECT doc_id, s_en, s_de, s_es, s_fr,
         | CASE $cases ELSE 'und' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q22_quality" -> {
      val stopSum = TextAnalysis.qualityStopwords
        .map(w => sqlCountOcc("pt", s" $w ")).mkString("(", " + ", ")")
      s"""WITH b AS (SELECT doc_id, text, ${sqlNorm("text")} AS nt, ${sqlPadded("text")} AS pt FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS n_words,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS upper,
         |  $stopSum AS stop
         | FROM b)
         |SELECT doc_id, n_chars, n_words,
         | CAST(punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
         | CAST(digits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_ratio,
         | CAST(upper AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS upper_ratio,
         | CAST(stop AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS stopword_ratio,
         | CAST(n_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS avg_word_len,
         | least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
         |  + least((CAST(stop AS DOUBLE) * 5.0) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0) * 0.3
         |  + (1.0 - least(CAST(digits AS DOUBLE) * 3.0 / CAST(greatest(n_chars, 1) AS DOUBLE), 1.0)) * 0.3
         |  AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q23_token_counts" ->
      s"""WITH b AS (SELECT doc_id, text, ${sqlNorm("text")} AS nt FROM documents)
         |SELECT doc_id,
         | CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM b ORDER BY doc_id""".stripMargin,

    "q24_fingerprint" ->
      s"SELECT doc_id, md5(${sqlNorm("text")}) AS fp FROM documents ORDER BY doc_id",

    "q25_dedup_exact" ->
      s"""WITH d2 AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000, text FROM documents)
         |SELECT md5(${sqlNorm("text")}) AS fp, count(*) AS n_dups,
         | min(doc_id) AS keep_id
         |FROM d2 GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "q26_ngram_jaccard" ->
      s"""WITH b AS (SELECT doc_id,
         |  source || '#' || CAST(floor(length(text) / 32) AS BIGINT) AS blk,
         |  ${sqlNorm("text")} AS nt FROM documents),
         |kept AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 1000),
         |sh AS (SELECT doc_id, blk, $sqlShingles AS s
         |       FROM (SELECT doc_id, blk, nt, string_split(nt, ' ') AS t FROM b
         |             WHERE blk IN (SELECT blk FROM kept))),
         |pairs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |  CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
         |   greatest(CAST(len(a.s) + len(c.s) AS DOUBLE) - CAST(len(list_intersect(a.s, c.s)) AS DOUBLE), 1.0) AS jaccard
         | FROM sh a JOIN sh c ON a.blk = c.blk AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.02
         |ORDER BY id_a, id_b""".stripMargin,

    "q43_ngram_blocks" ->
      """SELECT source || '#' || CAST(floor(length(text) / 32) AS BIGINT) AS blk,
        | count(*) AS n_docs, count(*) > 3 AS truncated
        |FROM documents GROUP BY 1 ORDER BY blk""".stripMargin,

    "q27_minhash_lsh" ->
      s"""WITH d2 AS ($sqlD2),
         |b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM d2),
         |sh AS (SELECT doc_id, $sqlShingles AS s
         |       FROM (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM b)),
         |hs AS (SELECT doc_id, list_transform(s, g -> ${sqlH64("g")}) AS h1s,
         |  list_transform(s, g -> ${sqlH64(s"'${graft.functions.Hash64.Km2Prefix}' || g")}) AS h2s FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(32),
         |  i -> list_min(list_transform(range(len(h1s)),
         |    j -> ${sqlKm("h1s[j+1]", "h2s[j+1]", "i")}))) AS sig
         | FROM hs),
         |band AS (SELECT doc_id, band_idx,
         |  ${sqlH64("band_idx::VARCHAR || '|' || array_to_string(list_transform(list_slice(sig, band_idx*4+1, band_idx*4+4), x -> x::VARCHAR), ',')")} AS band_hash
         | FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_idx) r),
         |capped AS (SELECT band_idx, band_hash FROM band GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         | FROM band x JOIN band y USING (band_idx, band_hash)
         |  JOIN capped USING (band_idx, band_hash)
         | WHERE x.doc_id < y.doc_id),
         |ver AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
         |   greatest(CAST(len(a.s) + len(c.s) AS DOUBLE) - CAST(len(list_intersect(a.s, c.s)) AS DOUBLE), 1.0) AS jaccard
         | FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh c ON c.doc_id = cand.id_b)
         |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q52_dup_clusters" ->
      // q27's pair mirror + recursive-CTE reachability closure: component
      // label = min reachable id (DuckDB's UNION-dedup recursion is the
      // small-scale ground truth for the large-star/small-star dataflow)
      s"""WITH RECURSIVE d2 AS ($sqlD2),
         |b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM d2),
         |sh AS (SELECT doc_id, $sqlShingles AS s
         |       FROM (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM b)),
         |hs AS (SELECT doc_id, list_transform(s, g -> ${sqlH64("g")}) AS h1s,
         |  list_transform(s, g -> ${sqlH64(s"'${graft.functions.Hash64.Km2Prefix}' || g")}) AS h2s FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(32),
         |  i -> list_min(list_transform(range(len(h1s)),
         |    j -> ${sqlKm("h1s[j+1]", "h2s[j+1]", "i")}))) AS sig
         | FROM hs),
         |band AS (SELECT doc_id, band_idx,
         |  ${sqlH64("band_idx::VARCHAR || '|' || array_to_string(list_transform(list_slice(sig, band_idx*4+1, band_idx*4+4), x -> x::VARCHAR), ',')")} AS band_hash
         | FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_idx) r),
         |capped AS (SELECT band_idx, band_hash FROM band GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         | FROM band x JOIN band y USING (band_idx, band_hash)
         |  JOIN capped USING (band_idx, band_hash)
         | WHERE x.doc_id < y.doc_id),
         |p AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
         |   greatest(CAST(len(a.s) + len(c.s) AS DOUBLE) - CAST(len(list_intersect(a.s, c.s)) AS DOUBLE), 1.0) AS jaccard
         | FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh c ON c.doc_id = cand.id_b),
         |pf AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.5),
         |nodes AS (SELECT id_a AS v FROM pf UNION SELECT id_b FROM pf),
         |e AS (SELECT id_a AS u, id_b AS v FROM pf UNION SELECT id_b, id_a FROM pf),
         |reach AS (
         |  SELECT v AS src, v AS dst FROM nodes
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u),
         |lbl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
         |SELECT l.doc_id, l.cluster_id, s.cluster_size,
         | l.doc_id = l.cluster_id AS keep
         |FROM lbl l JOIN sz s USING (cluster_id) ORDER BY doc_id""".stripMargin,

    "q53_repetition" ->
      // mirror of TextAnalysis.repetitionPrims (the kernel's declarative
      // twin): count-per-distinct over token / bigram lists, fracs as one
      // int-derived division each
      s"""WITH b AS (SELECT doc_id, string_split(${sqlNorm("text")}, ' ') AS t,
         |  length(${sqlNorm("text")}) AS L FROM documents),
         |c AS (SELECT doc_id,
         |  CASE WHEN L = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |  CASE WHEN L = 0 THEN 0 ELSE
         |    list_max(list_transform(list_distinct(t), u -> len(list_filter(t, x -> x = u)))) END AS top_uni,
         |  CASE WHEN L > 0 AND len(t) >= 2 THEN
         |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE []::VARCHAR[] END AS bg
         | FROM b),
         |d AS (SELECT doc_id, n_tokens, top_uni, len(bg) AS n_bi,
         |  coalesce(list_max(list_transform(list_distinct(bg), g -> len(list_filter(bg, x -> x = g)))), 0) AS top_bi,
         |  coalesce(list_sum(list_filter(list_transform(list_distinct(bg),
         |    g -> len(list_filter(bg, x -> x = g))), c -> c >= 2)), 0) AS dup_occ
         | FROM c)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(top_uni AS DOUBLE) / greatest(n_tokens, 1) AS top_unigram_frac,
         | CAST(top_bi AS DOUBLE) / greatest(n_bi, 1) AS top_bigram_frac,
         | CAST(dup_occ AS DOUBLE) / greatest(n_bi, 1) AS dup_bigram_frac
         |FROM d ORDER BY doc_id""".stripMargin,

    "q54_curation_pipeline" -> {
      // end-to-end mirror of CuratePipeline.curate: q21 lang scores + q22
      // quality closed form + q53 repetition fracs → thresholds → min-id
      // per md5 → q27 minhash chain over the survivors → q52 recursive
      // closure → q51 split arithmetic
      val scores = TextAnalysis.langMarkers.map { case (l, _) => s"${sqlLangScore(l)} AS s_$l" }
      val best = s"greatest(${TextAnalysis.langMarkers.map(m => s"s_${m._1}").mkString(", ")})"
      val total = TextAnalysis.langMarkers.map(m => s"s_${m._1}").mkString(" + ")
      val cases = TextAnalysis.langMarkers.map { case (l, _) =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'" }.mkString(" ")
      val stopSum = TextAnalysis.qualityStopwords
        .map(w => sqlCountOcc("pt", s" $w ")).mkString("(", " + ", ")")
      s"""WITH RECURSIVE d2 AS ($sqlD2),
         |base AS (SELECT doc_id, text, nt, pt, string_split(nt, ' ') AS t, length(nt) AS L
         |  FROM (SELECT doc_id, text, ${sqlNorm("text")} AS nt, ${sqlPadded("text")} AS pt FROM d2)),
         |sc AS (SELECT doc_id, ${scores.mkString(", ")} FROM base),
         |lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_id FROM sc),
         |qm AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS n_words,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         |  $stopSum AS stop
         | FROM base),
         |q AS (SELECT doc_id,
         |  least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
         |   + least((CAST(stop AS DOUBLE) * 5.0) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0) * 0.3
         |   + (1.0 - least(CAST(digits AS DOUBLE) * 3.0 / CAST(greatest(n_chars, 1) AS DOUBLE), 1.0)) * 0.3
         |   AS quality FROM qm),
         |rep AS (SELECT doc_id,
         |  CASE WHEN L = 0 THEN 0 ELSE len(t) END AS n_tokens,
         |  CASE WHEN L = 0 THEN 0 ELSE
         |    list_max(list_transform(list_distinct(t), u -> len(list_filter(t, x -> x = u)))) END AS top_uni,
         |  CASE WHEN L > 0 AND len(t) >= 2 THEN
         |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE []::VARCHAR[] END AS bg
         | FROM base),
         |repd AS (SELECT doc_id,
         |  CAST(top_uni AS DOUBLE) / greatest(n_tokens, 1) AS top_uni_frac,
         |  CAST(coalesce(list_sum(list_filter(list_transform(list_distinct(bg),
         |    g -> len(list_filter(bg, x -> x = g))), c -> c >= 2)), 0) AS DOUBLE)
         |   / greatest(len(bg), 1) AS dup_bi_frac
         | FROM rep),
         |filtered AS (SELECT b.doc_id, b.nt, b.t, lang_id, quality
         | FROM base b JOIN lang USING (doc_id) JOIN q USING (doc_id) JOIN repd USING (doc_id)
         | WHERE lang_id <> 'und' AND quality >= 0.5
         |   AND top_uni_frac <= 0.5 AND dup_bi_frac <= 0.6),
         |keep AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5(nt)),
         |ex AS (SELECT f.* FROM filtered f JOIN keep USING (doc_id)),
         |sh AS (SELECT doc_id, $sqlShingles AS s FROM ex),
         |hs AS (SELECT doc_id, list_transform(s, g -> ${sqlH64("g")}) AS h1s,
         |  list_transform(s, g -> ${sqlH64(s"'${graft.functions.Hash64.Km2Prefix}' || g")}) AS h2s FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(32),
         |  i -> list_min(list_transform(range(len(h1s)),
         |    j -> ${sqlKm("h1s[j+1]", "h2s[j+1]", "i")}))) AS sig
         | FROM hs),
         |band AS (SELECT doc_id, band_idx,
         |  ${sqlH64("band_idx::VARCHAR || '|' || array_to_string(list_transform(list_slice(sig, band_idx*4+1, band_idx*4+4), x -> x::VARCHAR), ',')")} AS band_hash
         | FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_idx) r),
         |capped AS (SELECT band_idx, band_hash FROM band GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         | FROM band x JOIN band y USING (band_idx, band_hash)
         |  JOIN capped USING (band_idx, band_hash)
         | WHERE x.doc_id < y.doc_id),
         |pv AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
         |   greatest(CAST(len(a.s) + len(c.s) AS DOUBLE) - CAST(len(list_intersect(a.s, c.s)) AS DOUBLE), 1.0) AS jaccard
         | FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh c ON c.doc_id = cand.id_b),
         |pf AS (SELECT id_a, id_b FROM pv WHERE jaccard >= 0.5),
         |vn AS (SELECT id_a AS v FROM pf UNION SELECT id_b FROM pf),
         |eg AS (SELECT id_a AS u, id_b AS v FROM pf UNION SELECT id_b, id_a FROM pf),
         |reach AS (
         |  SELECT v AS src, v AS dst FROM vn
         |  UNION
         |  SELECT r.src, eg.v FROM reach r JOIN eg ON r.dst = eg.u),
         |losers AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING src <> min(dst)),
         |surv AS (SELECT doc_id, lang_id, quality FROM ex
         | WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |sp AS (SELECT doc_id, lang_id, quality,
         |  ((doc_id * 2654435761) % 1000000007) % 1000 AS bucket FROM surv)
         |SELECT doc_id, lang_id, quality,
         | CASE WHEN bucket < 980 THEN 'train'
         |      WHEN bucket < 990 THEN 'valid' ELSE 'test' END AS split
         |FROM sp ORDER BY doc_id""".stripMargin
    },

    "q28_simhash" -> {
      val bitSums = (0 until Dedup.SimhashBits).map(j =>
        s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
      val pack = (0 until Dedup.SimhashBits).map(j =>
        s"CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
      s"""WITH d2 AS ($sqlD2),
         |b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM d2),
         |tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tk FROM b),
         |h AS (SELECT doc_id, ${sqlH64("tk")} AS hv FROM tok),
         |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
         |sk AS (SELECT doc_id, $pack AS simhash FROM bits),
         |ch AS (SELECT doc_id AS id, simhash, c AS chunk_idx,
         |  (simhash >> (c * 15)) & 32767 AS chunk_val
         | FROM sk CROSS JOIN (SELECT unnest(range(4)) AS c) r)
         |SELECT DISTINCT x.id AS id_a, y.id AS id_b,
         | CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |FROM ch x JOIN ch y ON x.chunk_idx = y.chunk_idx AND x.chunk_val = y.chunk_val
         | AND x.id < y.id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q31_ann_lsh" -> {
      val nBits = 6
      val bucket = (0 until nBits).map(j =>
        s"CASE WHEN list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * s$j[i])) > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      val flips = s"list_transform(range($nBits), j -> xor(qbucket, (1::BIGINT << j)))"
      s"""WITH sg AS (SELECT ${sqlSigns(nBits, 64)}),
         |e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),
         |bk AS (SELECT vec_id, qv, $bucket AS bucket FROM e CROSS JOIN sg),
         |q AS (SELECT vec_id AS query_id, qv AS qqv, bucket AS qbucket FROM bk WHERE vec_id < 20),
         |probes AS (SELECT query_id, qqv,
         |  unnest(list_prepend(qbucket, $flips)) AS bucket FROM q),
         |sc AS (SELECT query_id, c.vec_id AS neighbor_id, ${sqlIntCos("qqv", "c.qv")} AS cos
         | FROM probes JOIN bk c USING (bucket) WHERE c.vec_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "q33_media_features" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CASE WHEN length(text) = 0 THEN 0.0
        |  ELSE CAST(list_sum(list_transform(range(1, length(text)+1), i -> ord(substr(text, i, 1)))) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE) END AS mean_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q35_winnowing" ->
      s"""WITH b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM documents),
         |g AS (SELECT doc_id, list_transform(range(1, greatest(length(nt) - 7, 1) + 1),
         |  i -> ${sqlH64("substr(nt, i, 8)")}) AS grams FROM b),
         |w AS (SELECT doc_id, CASE WHEN len(grams) <= 16 THEN [list_min(grams)]
         |  ELSE list_distinct(list_transform(range(0, len(grams) - 15),
         |    j -> list_min(list_slice(grams, j + 1, j + 16)))) END AS fps FROM g)
         |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps FROM w ORDER BY doc_id""".stripMargin,

    "q37_approx_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS exact_custkeys, true AS approx_ok FROM orders""",

    // GOLDEN oracle: the crawl runs on a fixture that is a pure function of
    // its seed, and CrawlSpec pins run-to-run / partitioning / resume
    // determinism — these constants are the fixture's expected crawl
    // behavior (per-round fetch counts, outlink sums, distinct texts,
    // fetch_seq ranges, politeness offset sums). Any semantic drift of the
    // loop (ordering, budgets, dedup, robots) breaks this hash.
    "q34_crawl_e2e" ->
      """SELECT * FROM (VALUES
        | (1, 200, CAST(8 AS BIGINT), CAST(49 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(7 AS BIGINT), CAST(1500 AS BIGINT)),
        | (2, 200, CAST(26 AS BIGINT), CAST(154 AS BIGINT), CAST(26 AS BIGINT), CAST(8 AS BIGINT), CAST(39 AS BIGINT), CAST(1500 AS BIGINT)),
        | (2, 404, CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(32 AS BIGINT), CAST(5000 AS BIGINT)))
        | AS t(round, status, n_urls, sum_outlinks, n_texts, min_seq, max_seq, sum_offset_ms)
        |ORDER BY round, status""".stripMargin,

    "q42_embedding_neardup_lsh" -> {
      val nBits = 4
      val bucket = (0 until nBits).map(j =>
        s"CASE WHEN list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * s$j[i])) > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"""WITH sg AS (SELECT ${sqlSigns(nBits, 64)}),
         |e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),
         |bk AS (SELECT vec_id, qv, $bucket AS bucket FROM e CROSS JOIN sg),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${sqlIntCos("a.qv", "b.qv")} AS cos
         | FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin
    },

    "q40_map_fns" ->
      """WITH st AS (SELECT 'h' || (o_custkey % 50) AS host,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 404 ELSE 200 END AS status
        | FROM orders)
        |SELECT host,
        | CASE WHEN count(*) FILTER (status = 200) > 0
        |  THEN count(*) FILTER (status = 200) * 100 END AS ok_x100,
        | CASE WHEN count(*) FILTER (status = 404) > 0
        |  THEN count(*) FILTER (status = 404) * 100 END AS miss_x100,
        | CAST(count(DISTINCT status) AS INTEGER) AS n_statuses
        |FROM st GROUP BY host ORDER BY host""".stripMargin,

    "q41_json_fns" ->
      """WITH j AS (SELECT o_orderkey,
        | '{"k":' || o_orderkey || ',"s":"' || o_orderstatus || '","arr":['
        |   || (o_orderkey % 3) || ',' || (o_orderkey % 5) || ']}' AS js
        | FROM orders)
        |SELECT o_orderkey,
        | CAST(json_extract(js, '$.k') AS BIGINT) AS jk,
        | json_extract_string(js, '$.s') AS js,
        | CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr2,
        | json_extract_string(js, '$.s') AS gjs,
        | o_orderkey AS rt_k
        |FROM j ORDER BY o_orderkey""".stripMargin,

    "q39_ivf_assign" ->
      s"""WITH e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),
         |cent AS (SELECT vec_id AS cell_id, qv AS cv FROM e WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, cell_id, ${sqlIntCos("e.qv", "cent.cv")} AS cos
         | FROM e CROSS JOIN cent),
         |r AS (SELECT vec_id, cell_id, cos,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn FROM sc)
         |SELECT vec_id, cell_id, cos FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q44_ivf_search" ->
      s"""WITH e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),
         |cent AS (SELECT vec_id AS cell_id, qv AS cv FROM e WHERE vec_id < 8),
         |asg0 AS (SELECT e.vec_id, cell_id, ${sqlIntCos("e.qv", "cent.cv")} AS cos
         | FROM e CROSS JOIN cent),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT vec_id, cell_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
         |  FROM asg0) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, qv FROM e WHERE vec_id >= 8 AND vec_id < 28),
         |pr0 AS (SELECT query_id, cell_id, q.qv, ${sqlIntCos("q.qv", "cent.cv")} AS qcos
         | FROM q CROSS JOIN cent),
         |probes AS (SELECT query_id, cell_id, qv FROM (
         |  SELECT query_id, cell_id, qv,
         |    row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cell_id) AS rn
         |  FROM pr0) WHERE rn <= 2),
         |sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |  ${sqlIntCos("p.qv", "c.qv")} AS cos
         | FROM probes p JOIN asg a ON a.cell_id = p.cell_id
         | JOIN e c ON c.vec_id = a.vec_id
         | WHERE a.vec_id <> p.query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         | FROM sc)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q45_linkrank" -> {
      // one CTE pair (gather, update) per iteration — the exact integer
      // recurrence of LinkRank.linkRank, `//` mirroring Spark's `div`
      def iter(i: Int): String =
        s"""g$i AS (SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s
           |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
           |  JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
           |r$i AS (SELECT n.node, 150000 + (COALESCE(g.s, 0) * 85) // 100 AS rank
           |  FROM nodes n LEFT JOIN g$i g ON g.node = n.node)""".stripMargin
      s"""WITH edges AS (
         |  SELECT DISTINCT l_orderkey % 997 AS src, l_partkey % 997 AS dst
         |  FROM lineitem WHERE l_orderkey % 997 <> l_partkey % 997),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin
    },

    "q47_rank_buckets" -> {
      def iter(i: Int): String =
        s"""g$i AS (SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s
           |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
           |  JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
           |r$i AS (SELECT n.node, 150000 + (COALESCE(g.s, 0) * 85) // 100 AS rank
           |  FROM nodes n LEFT JOIN g$i g ON g.node = n.node)""".stripMargin
      s"""WITH edges AS (
         |  SELECT DISTINCT l_orderkey % 997 AS src, l_partkey % 997 AS dst
         |  FROM lineitem WHERE l_orderkey % 997 <> l_partkey % 997),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |v AS (SELECT node, 1 + rank // 1000000 AS v FROM r3)
         |SELECT node AS host,
         |  CAST(CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2
         |       ELSE 3 END AS INTEGER) AS rank_bucket
         |FROM v ORDER BY host""".stripMargin
    },

    "q46_host_budget" ->
      """WITH fr AS (
        | SELECT 'https://h' || (o_custkey % 50) || '.com/o' || (o_orderkey % 1000) AS canon_url,
        |  'https://h' || (o_custkey % 50) || '.com/o' || (o_orderkey % 1000) || '?r=' || o_orderkey AS raw_url,
        |  'h' || (o_custkey % 50) || '.com' AS host,
        |  'com.h' || (o_custkey % 50) AS host_rev,
        |  CAST(o_orderkey % 5 AS INTEGER) AS depth,
        |  CAST(o_orderkey % 3 AS INTEGER) AS discovery_round,
        |  'https://s' || (o_custkey % 7) AS src_url
        | FROM orders),
        |d AS (SELECT * FROM (
        | SELECT *, row_number() OVER (PARTITION BY canon_url
        |  ORDER BY depth, discovery_round, src_url, raw_url, host, host_rev) AS rn
        | FROM fr) WHERE rn = 1),
        |r AS (SELECT canon_url, host,
        |  CAST(row_number() OVER (PARTITION BY host
        |   ORDER BY depth, discovery_round, canon_url) AS INTEGER) AS host_rank
        | FROM d)
        |SELECT canon_url, host, host_rank FROM r
        |WHERE host_rank <= CASE host WHEN 'h3.com' THEN 2 WHEN 'h7.com' THEN 9 ELSE 4 END
        |ORDER BY canon_url""".stripMargin,

    "q48_crawl_delay" ->
      """WITH ids AS (SELECT DISTINCT c_custkey % 60 AS id FROM customer),
        |r AS (SELECT id, unnest(generate_series(1, 6)) AS host_rank FROM ids),
        |d AS (SELECT id, host_rank,
        |  CASE WHEN id % 3 = 0 THEN (1 + id % 5) * 1000
        |       WHEN id % 3 = 1 THEN 2500 END AS delay_ms
        | FROM r)
        |SELECT 'd' || id || '.com' AS host,
        | CAST(host_rank AS BIGINT) AS host_rank,
        | CAST(delay_ms AS BIGINT) AS crawl_delay_ms,
        | CAST(CASE WHEN delay_ms IS NULL THEN greatest(0, host_rank - 2) * 500
        |      ELSE (host_rank - 1) * greatest(delay_ms, 500) END AS BIGINT)
        |   AS scheduled_offset_ms
        |FROM d ORDER BY host, host_rank""".stripMargin,

    "q49_sitemap" ->
      """WITH ids AS (SELECT DISTINCT c_custkey % 40 AS id FROM customer
        |             WHERE c_custkey % 40 % 2 = 0),
        |k AS (SELECT unnest(generate_series(1, 2)) AS pk)
        |SELECT 's' || id || '.com' AS host,
        | 'https://s' || id || '.com/sm.xml' AS sm_url,
        | 'https://s' || id || '.com/p' || pk ||
        |   CASE WHEN pk = 2 THEN '?a=1&b=2' ELSE '' END AS loc
        |FROM ids CROSS JOIN k ORDER BY host, loc""".stripMargin,

    "q50_stratified_sample" ->
      """WITH p AS (SELECT doc_id, lang, n_chars,
        |    (doc_id * 2654435761) % 1000000007 AS pri FROM documents),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY lang ORDER BY pri, doc_id) AS rn FROM p)
        |SELECT lang, doc_id, pri, CAST(rn AS INTEGER) AS sample_rank, n_chars
        |FROM r WHERE rn <= 10 ORDER BY lang, sample_rank""".stripMargin,

    "q51_hash_split" ->
      """WITH b AS (SELECT lang, n_chars,
        |    ((doc_id * 2654435761) % 1000000007) % 1000 AS bucket FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 980 THEN 'train'
        |       WHEN bucket < 990 THEN 'valid' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q29_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, ${sqlQv("embedding")} AS qv FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${sqlIntCos("a.qv", "b.qv")} AS cos
         | FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "q30_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, ${sqlQv("embedding")} AS qv FROM embeddings),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${sqlIntCos("q.qv", "c.qv")} AS cos
         | FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 20),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q36_cube" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,

    "q38_salted_join" ->
      """WITH dim AS (
        | SELECT CAST(r_regionkey AS BIGINT) AS hot_key, r_name FROM region
        | UNION ALL SELECT CAST(r_regionkey + 5 AS BIGINT), r_name FROM region)
        |SELECT r_name, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN dim ON l_orderkey % 10 = hot_key
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_media_meta" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(doc_id % 8 * 160 + 320 AS INTEGER) AS width,
        | CAST(doc_id % 8 * 90 + 180 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q55_decontaminate" ->
      s"""WITH tr AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM documents WHERE doc_id % 97 <> 0),
         |be AS (SELECT ${sqlNorm("text")} AS nt FROM documents WHERE doc_id % 97 = 0),
         |tsh AS (SELECT doc_id, unnest($sqlShingles) AS s
         |        FROM (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM tr)),
         |bsh AS (SELECT DISTINCT unnest($sqlShingles) AS s
         |        FROM (SELECT nt, string_split(nt, ' ') AS t FROM be)),
         |hits AS (SELECT doc_id, count(*) AS n_hit_shingles
         |         FROM tsh JOIN bsh USING (s) GROUP BY doc_id)
         |SELECT tr.doc_id,
         |  CAST(coalesce(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
         |  coalesce(h.n_hit_shingles, 0) > 0 AS contaminated
         |FROM tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
         |ORDER BY tr.doc_id""".stripMargin,

    "q56_boilerplate" ->
      s"""WITH b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM documents),
         |sh AS (SELECT doc_id, unnest($sqlShingles) AS s
         |       FROM (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM b)),
         |n AS (SELECT CAST(floor((count(*) * 50 + 999) / 1000.0) AS BIGINT) AS thresh FROM documents),
         |fl AS (SELECT s FROM sh, n GROUP BY s, thresh HAVING count(*) >= thresh),
         |bp AS (SELECT doc_id, count(*) AS n_boilerplate
         |       FROM sh WHERE s IN (SELECT s FROM fl) GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
         |SELECT tot.doc_id, CAST(tot.n_shingles AS BIGINT) AS n_shingles,
         |  CAST(coalesce(bp.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
         |  CAST(coalesce(bp.n_boilerplate, 0) AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE) AS boilerplate_frac
         |FROM tot LEFT JOIN bp ON tot.doc_id = bp.doc_id
         |ORDER BY tot.doc_id""".stripMargin,

    "q57_domain_mix" ->
      s"""WITH p AS (SELECT source, doc_id,
         |    (doc_id * 2654435761) % 1000000007 AS pri,
         |    CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS n_tokens
         |  FROM (SELECT source, doc_id, ${sqlNorm("text")} AS nt FROM documents)),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id) AS cum FROM p)
         |SELECT source, doc_id, pri, CAST(n_tokens AS BIGINT) AS n_tokens FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 900 ELSE 700 END
         |ORDER BY source, doc_id""".stripMargin,

    "q58_pii" ->
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |    || CASE WHEN doc_id % 3 = 0 THEN ' ip 10.' || CAST(doc_id % 250 AS VARCHAR)
         |         || '.0.' || CAST(doc_id % 200 AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-867-'
         |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS pt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pt, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(pt, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(pt, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(pt,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM p ORDER BY doc_id""".stripMargin,

    "q59_segment_dedup" ->
      s"""WITH d2 AS ($sqlD2),
         |tk AS (SELECT doc_id, string_split(${sqlNorm("text")}, ' ') AS t FROM d2),
         |sg AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
         |         array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg
         |       FROM (SELECT doc_id, t,
         |               unnest(range(0, greatest(CAST(ceil(len(t)/8.0) AS BIGINT), 1))) AS i
         |             FROM tk)),
         |k AS (SELECT seg, min(doc_id*1000000 + seg_idx) AS kk FROM sg GROUP BY seg),
         |m AS (SELECT sg.doc_id, sg.seg_idx, sg.seg,
         |        (sg.doc_id*1000000 + sg.seg_idx) = k.kk AS kept
         |      FROM sg JOIN k USING (seg))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE kept) AS DOUBLE) / count(*) AS kept_frac,
         |  md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '')) AS dedup_md5
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q60_anchor_text" ->
      """WITH l AS (
        |  SELECT 'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p'
        |      || CAST(doc_id AS VARCHAR) AS href,
        |    'go & see ' || CAST(doc_id % 13 AS VARCHAR) AS anchor FROM documents
        |  UNION ALL
        |  SELECT 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/rel'
        |      || CAST(doc_id % 5 AS VARCHAR),
        |    'rel link ' || CAST(doc_id % 3 AS VARCHAR) FROM documents)
        |SELECT href, CAST(count(*) AS BIGINT) AS n_refs,
        |  CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchors,
        |  min(anchor) AS first_anchor
        |FROM l GROUP BY href ORDER BY href""".stripMargin,

    "q61_kmeans" ->
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 3, dim = 64)}
         |SELECT vec_id, cell, dist FROM af ORDER BY vec_id""".stripMargin,

    "q62_semdedup" ->
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 3, dim = 64)},
         |pr AS (SELECT DISTINCT b.vec_id AS vid
         |       FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |       WHERE ${sqlIntCos("a.qv", "b.qv")} >= 0.35)
         |SELECT vec_id, cell FROM af
         |WHERE vec_id NOT IN (SELECT vid FROM pr) ORDER BY vec_id""".stripMargin,

    "q63_blocklist" ->
      """WITH h AS (SELECT CASE WHEN o_orderkey % 3 = 0
        |         THEN 'd' || CAST(o_custkey % 25 AS VARCHAR) || '.com'
        |         ELSE 's' || CAST(o_orderkey % 4 AS VARCHAR) || '.d'
        |           || CAST(o_custkey % 25 AS VARCHAR) || '.com' END AS host
        |       FROM orders),
        |b AS (SELECT * FROM (VALUES ('d3.com'), ('d7.com'), ('s1.d11.com'), ('D19.COM')) AS t(domain)),
        |hr AS (SELECT host, array_to_string(list_reverse(string_split(lower(host), '.')), '.') AS hrev FROM h),
        |br AS (SELECT domain, array_to_string(list_reverse(string_split(lower(domain), '.')), '.') AS brev FROM b),
        |m AS (SELECT domain, host FROM hr JOIN br
        |      ON hrev = brev OR starts_with(hrev, brev || '.'))
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM m GROUP BY domain ORDER BY domain""".stripMargin,

    "q64_ngram_stats" ->
      s"""WITH tk AS (SELECT string_split(${sqlNorm("text")}, ' ') AS t
         |            FROM documents WHERE text IS NOT NULL),
         |bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
         |       FROM tk)
         |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM bg
         |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,

    "q65_rare_tokens" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(${sqlNorm("text")}, ' ')) AS tok
         |            FROM documents WHERE text IS NOT NULL),
         |vc AS (SELECT tok, 1 AS iv FROM (SELECT tok, count(*) AS cnt FROM tk
         |       GROUP BY tok ORDER BY cnt DESC, tok LIMIT 256)),
         |j AS (SELECT t.doc_id, v.iv FROM tk t LEFT JOIN vc v ON t.tok = v.tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE iv IS NULL) AS BIGINT) AS n_oov,
         |  (1000 * CAST(count(*) FILTER (WHERE iv IS NULL) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS oov_permille
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q66_incremental_dedup" ->
      // the q27 full-run mirror restricted to pairs touching the new batch
      // (ids >= 1e6) — the incremental operator's equivalence contract
      s"""WITH d2 AS ($sqlD2),
         |b AS (SELECT doc_id, ${sqlNorm("text")} AS nt FROM d2),
         |sh AS (SELECT doc_id, $sqlShingles AS s
         |       FROM (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM b)),
         |hs AS (SELECT doc_id, list_transform(s, g -> ${sqlH64("g")}) AS h1s,
         |  list_transform(s, g -> ${sqlH64(s"'${graft.functions.Hash64.Km2Prefix}' || g")}) AS h2s FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(32),
         |  i -> list_min(list_transform(range(len(h1s)),
         |    j -> ${sqlKm("h1s[j+1]", "h2s[j+1]", "i")}))) AS sig
         | FROM hs),
         |band AS (SELECT doc_id, band_idx,
         |  ${sqlH64("band_idx::VARCHAR || '|' || array_to_string(list_transform(list_slice(sig, band_idx*4+1, band_idx*4+4), x -> x::VARCHAR), ',')")} AS band_hash
         | FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_idx) r),
         |capped AS (SELECT band_idx, band_hash FROM band GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         | FROM band x JOIN band y USING (band_idx, band_hash)
         |  JOIN capped USING (band_idx, band_hash)
         | WHERE x.doc_id < y.doc_id),
         |ver AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
         |   greatest(CAST(len(a.s) + len(c.s) AS DOUBLE) - CAST(len(list_intersect(a.s, c.s)) AS DOUBLE), 1.0) AS jaccard
         | FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh c ON c.doc_id = cand.id_b)
         |SELECT id_a, id_b, jaccard FROM ver
         |WHERE jaccard >= 0.5 AND (id_a >= 1000000 OR id_b >= 1000000)
         |ORDER BY id_a, id_b""".stripMargin,

    "q67_seq_pack" ->
      s"""WITH tt AS (SELECT doc_id,
         |    CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS t0
         |  FROM (SELECT doc_id, ${sqlNorm("text")} AS nt FROM documents)),
         |tz AS (SELECT doc_id, CAST(t0 AS BIGINT) AS t FROM tt WHERE t0 > 0),
         |o AS (SELECT doc_id, t,
         |    CAST(COALESCE(sum(t) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM tz),
         |c AS (SELECT doc_id, t, o,
         |    unnest(range(o // 64, (o + t - 1) // 64 + 1)) AS chunk_id FROM o)
         |SELECT chunk_id, doc_id,
         |  greatest(chunk_id*64 - o, 0) AS doc_from,
         |  least((chunk_id+1)*64, o+t) - greatest(chunk_id*64, o) AS n_toks
         |FROM c ORDER BY chunk_id, doc_id""".stripMargin,

    "q68_revisit" ->
      """WITH h AS (SELECT 'https://h' || CAST(o_custkey % 40 AS VARCHAR)
        |      || '.com/p' || CAST(o_orderkey % 500 AS VARCHAR) AS url,
        |    CAST(o_orderkey % 7 AS BIGINT) AS round,
        |    (o_orderkey % 3 = 0) AS changed
        |  FROM orders),
        |a AS (SELECT url, round,
        |    max(CASE WHEN changed THEN round END) OVER (PARTITION BY url) AS lc
        |  FROM h),
        |g AS (SELECT url, max(round) AS last_round,
        |    CAST(sum(CASE WHEN lc IS NULL OR round > lc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS unchanged_streak
        |  FROM a GROUP BY url)
        |SELECT url, last_round, unchanged_streak,
        |  2 * (CAST(1 AS BIGINT) << CAST(least(unchanged_streak, 4) AS INTEGER)) AS "interval",
        |  last_round
        |    + 2 * (CAST(1 AS BIGINT) << CAST(least(unchanged_streak, 4) AS INTEGER))
        |    AS next_due_round
        |FROM g ORDER BY url""".stripMargin,

    "q69_source_quality" -> {
      val stopSum = TextAnalysis.qualityStopwords
        .map(w => sqlCountOcc("pt", s" $w ")).mkString("(", " + ", ")")
      s"""WITH b AS (SELECT source, text, ${sqlNorm("text")} AS nt, ${sqlPadded("text")} AS pt FROM documents),
         |m AS (SELECT source,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CASE WHEN nt = '' THEN 0 ELSE ${sqlCountOcc("nt", " ")} + 1 END AS n_words,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         |  $stopSum AS stop
         | FROM b),
         |q AS (SELECT source, CAST(floor((
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + least((CAST(stop AS DOUBLE) * 5.0) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0) * 0.3
         |    + (1.0 - least(CAST(digits AS DOUBLE) * 3.0 / CAST(greatest(n_chars, 1) AS DOUBLE), 1.0)) * 0.3
         |  ) * 1000) AS BIGINT) AS qpm FROM m),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(qpm) AS BIGINT) AS qpm_sum FROM q GROUP BY source)
         |SELECT source, n_docs, qpm_sum, qpm_sum // n_docs AS avg_quality_permille,
         |  (qpm_sum // n_docs) >= 600 AS kept
         |FROM g ORDER BY source""".stripMargin
    })
}
