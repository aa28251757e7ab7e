package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._

class CrawlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = CrawlConfig(
    maxDepth = 6, hostBudget = 16, roundBudget = 2048,
    ratePerSec = 2.0, burst = 4, numPartitions = 8,
    bloomExpectedPerPartition = 4096)

  /** Build corpus+robots in memory and bootstrap a catalog. */
  private def bootstrapCrawl(dir: String, nPages: Long, nSeeds: Int,
                             c: CrawlConfig): (StateCatalog, FixtureGen.Universe) = {
    import spark.implicits._
    val uni = FixtureGen.Universe(nPages)
    val pages = spark.range(nPages).map(p => uni.pageRow(p)).toDF()
    val v2 = spark.range(nPages).filter(p => uni.hasSecondVersion(p)).map(p => uni.pageRowV2(p)).toDF()
    val robots = (0 until uni.nHosts).flatMap(i => uni.robotsBody(i).map(b => (uni.host(i), b)))
      .toDF("host", "robots_body")
    val catalog = new HadoopSnapshotCatalog(dir)
    Crawl.bootstrap(spark, catalog, pages.unionByName(v2), robots, uni.seeds(nSeeds), c)
    (catalog, uni)
  }

  /** Bootstrap, then run K rounds in one `runRounds` call — or, with
    * `perRound`, through the per-round reference [[roundByRound]]. */
  private def runCrawl(dir: String, nPages: Long, nSeeds: Int, rounds: Int,
                       c: CrawlConfig = cfg, perRound: Boolean = false)
      : (StateCatalog, Seq[CrawlRound.RoundResult], FixtureGen.Universe) = {
    val (catalog, uni) = bootstrapCrawl(dir, nPages, nSeeds, c)
    val results =
      if (perRound) roundByRound(dir, rounds, c) else Crawl.runRounds(spark, catalog, c, rounds)
    (catalog, results, uni)
  }

  /** The reference the in-memory handoff must reproduce: one
    * `runRounds(maxRounds = 1)` call per round, each on a fresh catalog
    * handle, so every cross-round frame is read back from committed parquet
    * and no frame is ever hopped. Stops after a round without progress, as
    * the loop does. */
  private def roundByRound(dir: String, rounds: Int, c: CrawlConfig): Seq[CrawlRound.RoundResult] = {
    val out = scala.collection.mutable.ArrayBuffer[CrawlRound.RoundResult]()
    while (out.size < rounds && !out.lastOption.exists(r => r.fetched == 0 && r.robotsFetched == 0))
      out ++= Crawl.runRounds(spark, new HadoopSnapshotCatalog(dir), c, 1)
    out.toSeq
  }

  /** Runs `body` with `dir` as the session's checkpoint dir, so
    * [[graft.operators.Ranks.truncate]] takes its reliable-checkpoint
    * branch, and returns the number of checkpoint files written. The dir is
    * unset afterwards (`setCheckpointDir(null)`), so later specs on the
    * shared session keep the local branch. */
  private def withCheckpointDir[T](dir: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "session already has a checkpoint dir")
    sc.setCheckpointDir(dir)
    val r = try body finally sc.setCheckpointDir(null)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try (r, walk.iterator().asScala.count(java.nio.file.Files.isRegularFile(_)))
    finally walk.close() // the stream holds open directory handles
  }

  private def tmp(): String = Files.createTempDirectory("crawlspec").toString

  /** Asserts the committed `url_seen` sketches have no false negative for
    * any `url_seen_exact` key, through the loop's own map-side probe — and
    * that every such key's bucket HAS a sketch row, since the probe's
    * absent-bucket ⇒ "might be seen" rule would otherwise mask a lost one. */
  private def assertSketchesCoverSeen(catalog: StateCatalog, p: Int): Unit = {
    val seen = catalog.load(spark, "url_seen_exact").get.select("canon_url")
    val urlSeen = catalog.load(spark, "url_seen").get
    assert(seen.select(CrawlRound.partitionIdOf(col("canon_url"), p).as("partition_id"))
      .join(urlSeen, Seq("partition_id"), "left_anti").isEmpty,
      "a seen url's bucket has no sketch row")
    val misses = CrawlRound.probeSeen(seen, urlSeen, p).filter(!col("might_seen"))
      .select("canon_url").collect().map(_.getString(0))
    assert(misses.isEmpty, s"sketch false negatives: ${misses.take(5).mkString(", ")}")
  }

  /** Catalog whose round-1 commit wedges UNINTERRUPTIBLY until `release` —
    * so only the poison flag (not the quiesce interrupt) can stop
    * publication. The loop's round-1 handoff (the as-of seen-chain
    * read right after commit submission) is held until the commit thread is
    * provably inside the wedge, and with `plantFailure` then throws there. */
  private class WedgedCommitCatalog(inner: StateCatalog, plantFailure: Boolean)
      extends StateCatalog {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val attempted = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    override def latestRound = inner.latestRound
    override def load(spark: org.apache.spark.sql.SparkSession, table: String,
        atRound: Option[Int]) = {
      if (table == "url_seen_exact" && atRound.contains(0)) {
        assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "commit thread never entered the wedge")
        if (plantFailure) throw new RuntimeException("planted loop failure")
      }
      inner.load(spark, table, atRound)
    }
    override def commit(round: Int, tables: Map[String, org.apache.spark.sql.DataFrame],
        metrics: => Map[String, Long],
        appends: Map[String, org.apache.spark.sql.DataFrame],
        abort: () => Boolean) = {
      if (round == 1) {
        // freeze the frames while the loop still pins their caches: the
        // abandonment path unpersists the originals, and these tests want
        // nothing BUT the abort gates (not a recompute crash over released
        // caches) to be able to stop publication
        val fTables = tables.map { case (k, df) => k -> df.localCheckpoint(true) }
        val fAppends = appends.map { case (k, df) => k -> df.localCheckpoint(true) }
        entered.countDown()
        var done = false
        while (!done) try { release.await(); done = true }
        catch { case _: InterruptedException => } // swallow the quiesce interrupt
        try inner.commit(round, fTables, metrics, fAppends, abort)
        catch { case t: Throwable => failure.set(t); throw t }
        finally attempted.countDown()
      } else inner.commit(round, tables, metrics, appends, abort)
    }
    override def metricsOf(round: Int) = inner.metricsOf(round)
  }

  /** Runs a 3-round crawl whose round-1 commit wedges, expects runRounds to
    * throw, then releases the wedge and asserts the abandoned commit refused
    * to publish round 1. Returns the loop's exception. The call is guarded
    * by a 120 s await, so a loop that waits forever fails instead of hangs. */
  private def crawlAbandoningRound1(plantFailure: Boolean): Throwable = {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = tmp()
    val uni = FixtureGen.Universe(500)
    val pages = spark.range(500).map(p => uni.pageRow(p)).toDF()
    val robots = (0 until uni.nHosts).flatMap(i => uni.robotsBody(i).map(b => (uni.host(i), b)))
      .toDF("host", "robots_body")
    val inner = new HadoopSnapshotCatalog(dir)
    val catalog = new WedgedCommitCatalog(inner, plantFailure)
    val c = cfg.copy(commitQuiesceTimeoutSec = 2)
    Crawl.bootstrap(spark, catalog, pages, robots, uni.seeds(8), c)
    val run = Future(scala.util.Try(Crawl.runRounds(spark, catalog, c, 3)))(ExecutionContext.global)
    val thrown = try Await.result(run, 120.seconds).failed
      .getOrElse(fail("runRounds returned although round 1's commit never settled"))
    finally catalog.release.countDown()
    // the abandoned thread resumes, runs the real commit, and must abort at
    // an abort-thunk gate BEFORE the manifest rename (here the pre-write
    // poll — abort() is already true when the wedge releases; the frozen
    // frames rule out a recompute crash masquerading as the gate)
    assert(catalog.attempted.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "abandoned commit thread never finished its attempt")
    assert(catalog.failure.get.isInstanceOf[IllegalStateException] &&
        catalog.failure.get.getMessage.contains("aborted by caller"),
      s"expected an abort-gate refusal, got: ${catalog.failure.get}")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_manifests", "manifest_000001.json")),
      "abandoned commit published round 1's manifest after the caller saw the failure")
    assert(inner.latestRound.contains(0), "catalog advanced past the bootstrap snapshot")
    thrown
  }

  test("three rounds end-to-end: fetches happen, text parity is exact") {
    val (catalog, results, _) = runCrawl(tmp(), 1000, 8, 3)
    assert(results.nonEmpty && results.head.fetched > 0)
    results.foreach { r =>
      assert(r.textMismatches == 0, s"round ${r.round}: ${r.textMismatches} text mismatches")
    }
    val log = Crawl.fullFetchLog(spark, catalog)
    val n = log.count()
    assert(n == results.map(_.fetched).sum)
    // fetch_seq is the contiguous global crawl order 0..n-1
    val seqs = log.select("fetch_seq").orderBy("fetch_seq").collect().map(_.getLong(0))
    assert(seqs.toSeq == (0L until n).toSeq, "fetch_seq not contiguous")
  }

  test("politeness: per-host round budget respected; offsets follow the token bucket") {
    val (catalog, results, _) = runCrawl(tmp(), 1000, 8, 2)
    val log = Crawl.fullFetchLog(spark, catalog)
    import graft.functions.UrlExpressions.url_host
    val perHost = log.withColumn("host", url_host(col("canon_url")))
      .groupBy("round", "host").count().collect()
    perHost.foreach(r => assert(r.getLong(2) <= cfg.hostBudget,
      s"host ${r.getString(1)} round ${r.getInt(0)}: ${r.getLong(2)} > ${cfg.hostBudget}"))
    // closed form: offset = max(0, rank-burst+1)/rate*1000 for within-host rank
    val offs = log.withColumn("host", url_host(col("canon_url")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("round", "host")
          .orderBy("scheduled_offset_ms", "canon_url")) - 1)
      .select("scheduled_offset_ms", "rank").collect()
    offs.foreach { r =>
      val expected = math.max(0L, (r.getInt(1) - cfg.burst + 1)) * (1000.0 / cfg.ratePerSec)
      assert(r.getLong(0) == expected.toLong,
        s"rank ${r.getInt(1)}: offset ${r.getLong(0)} != ${expected.toLong}")
    }
  }

  test("token bucket: closed-form scheduleByRank ≡ stateful schedule (incl. non-integral 1000/rate)") {
    import spark.implicits._
    for (rate <- Seq(2.0, 3.0, 7.5); burst <- Seq(1, 4)) {
      // 3 hosts, different candidate counts; host-clustered + host-sorted
      // layout so the stateful form's arrival rank equals host_rank
      val cands = (for {
        h <- 0 until 3
        i <- 0 until (10 + h * 15)
      } yield Candidate(f"https://h$h.com/p$i%03d", s"h$h.com", s"com.h$h", 0, 0, i + 1))
        .toDS().repartition(2, col("host"))
        .sortWithinPartitions(col("host"), col("canon_url"))
      val stateful = TokenBucket.schedule(cands.as[Candidate], burst, rate).toDF()
        .select("canon_url", "scheduled_offset_ms").as[(String, Long)].collect().toMap
      val closed = TokenBucket.scheduleByRank(cands.toDF(), burst, rate)
        .select("canon_url", "scheduled_offset_ms").as[(String, Long)].collect().toMap
      assert(stateful == closed, s"closed form diverged at rate=$rate burst=$burst")
    }
  }

  test("token bucket: per-host crawl-delay — closed form ≡ stateful; max(delay, step) floor") {
    import spark.implicits._
    // h0: delay dominates the 500ms step (rate 2.0); h1: no delay (default
    // burst path untouched); h2: declared delay SMALLER than the step — the
    // client's own rate floor must win
    val delays = Map("h0.com" -> 2700L, "h2.com" -> 100L)
    val cands = (for {
      h <- 0 until 3
      i <- 0 until 25
    } yield Candidate(f"https://h$h.com/p$i%03d", s"h$h.com", s"com.h$h", 0, 0, i + 1))
      .toDS().repartition(2, col("host"))
      .sortWithinPartitions(col("host"), col("canon_url"))
    val stateful = TokenBucket.schedule(cands.as[Candidate], 4, 2.0, delays.get)
      .toDF().select("canon_url", "scheduled_offset_ms").as[(String, Long)].collect().toMap
    val closed = TokenBucket.scheduleByRankDelay(
      cands.toDF().withColumn("crawl_delay_ms",
        when(col("host") === "h0.com", 2700L)
          .when(col("host") === "h2.com", 100L)),
      4, 2.0)
      .select("canon_url", "scheduled_offset_ms").as[(String, Long)].collect().toMap
    assert(stateful == closed, "delay-aware closed form diverged from stateful bucket")
    // spot semantics: delayed host spaces from fetch #1 (no burst), floor wins
    assert(stateful("https://h0.com/p000") == 0L && stateful("https://h0.com/p003") == 3 * 2700L)
    assert(stateful("https://h2.com/p003") == 3 * 500L) // 100ms demand < own 500ms step
    assert(stateful("https://h1.com/p003") == 0L) // within burst 4, untouched default
  }

  test("robots crawl-delay: declared hosts get (rank-1)·delay spacing end-to-end") {
    import spark.implicits._
    val uni = FixtureGen.Universe(800)
    val pages = spark.range(800).map(p => uni.pageRow(p)).toDF()
    // every third host declares a 3s delay on top of its fixture rules
    def delayedHost(i: Int): Boolean = i % 3 == 0
    val robots = (0 until uni.nHosts).flatMap { i =>
      val base = uni.robotsBody(i)
      if (delayedHost(i))
        Some(uni.host(i) -> ("User-agent: *\nCrawl-delay: 3\n" + base.getOrElse("Disallow:")))
      else base.map(b => uni.host(i) -> b)
    }.toDF("host", "robots_body")
    val catalog = new HadoopSnapshotCatalog(tmp())
    Crawl.bootstrap(spark, catalog, pages, robots, uni.seeds(12), cfg)
    val results = Crawl.runRounds(spark, catalog, cfg, 2)
    assert(results.map(_.fetched).sum > 0)
    val delayed = (0 until uni.nHosts).filter(delayedHost).map(uni.host).toSet
    import graft.functions.UrlExpressions.url_host
    val log = Crawl.fullFetchLog(spark, catalog)
      .withColumn("host", url_host(col("canon_url")))
    val byHost = log.select("round", "host", "scheduled_offset_ms")
      .as[(Int, String, Long)].collect()
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted).toMap
    assert(byHost.keys.exists(k => delayed(k._2)), "no delayed host was ever fetched")
    val step = math.ceil(1000.0 / cfg.ratePerSec).toLong
    byHost.foreach { case ((round, host), offs) =>
      val expected =
        if (delayed(host)) offs.indices.map(_ * 3000L) // spacing from fetch #1
        else offs.indices.map(r => math.max(0L, r.toLong - cfg.burst + 1) * step)
      assert(offs.toSeq == expected,
        s"round $round host $host: offsets ${offs.toSeq} != $expected")
    }
  }

  test("op 38: per-host variable budgets — each host caps at ITS k, rank prefix preserved") {
    import spark.implicits._
    // operator level: three hosts, override two of them
    val cands = for { h <- 0 until 4; i <- 0 until 20 }
      yield (f"https://b$h.com/p$i%02d", f"https://b$h.com/p$i%02d",
        s"b$h.com", s"com.b$h", i % 4, 0, null.asInstanceOf[String])
    val df = cands.toDF("canon_url", "raw_url", "host", "host_rev",
      "depth", "discovery_round", "src_url")
    val out = graft.operators.HostTopK.hostTopK(df, 5,
      Map("b1.com" -> 2, "b2.com" -> 11, "b3.com" -> 0))
    val counts = out.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // b3's budget 0 is the "banned host" politeness tier: keeps NOTHING
    // (regression: an empty heap used to be indexed on the reject path)
    assert(counts == Map("b0.com" -> 5L, "b1.com" -> 2L, "b2.com" -> 11L))
    // survivors are the PREFIX of the per-host priority order (depth,
    // discovery_round, canon_url): depth-0 candidates are i ∈ {0,4,8,12,16}
    val b1 = out.filter(col("host") === "b1.com").orderBy("host_rank")
      .select("canon_url", "host_rank").collect()
    assert(b1.map(_.getInt(1)).toSeq == Seq(1, 2))
    assert(b1.map(_.getString(0)).toSeq ==
      Seq("https://b1.com/p00", "https://b1.com/p04"))

    // loop level: cap the Zipf-head fixture host at 2 — every round's
    // per-host fetch count respects ITS budget, and the cap binds
    val uni = FixtureGen.Universe(600)
    val c2 = cfg.copy(hostBudgets = Map(uni.host(0) -> 2))
    val (catalog, results, _) = runCrawl(tmp(), 600, 8, 2, c2)
    assert(results.head.fetched > 0)
    import graft.functions.UrlExpressions.url_host
    val perHost = Crawl.fullFetchLog(spark, catalog)
      .withColumn("host", url_host(col("canon_url")))
      .groupBy("round", "host").count().collect()
    perHost.foreach { r =>
      val cap = if (r.getString(1) == uni.host(0)) 2L else cfg.hostBudget.toLong
      assert(r.getLong(2) <= cap,
        s"host ${r.getString(1)} round ${r.getInt(0)}: ${r.getLong(2)} > $cap")
    }
    // the Zipf head has far more than 2 candidates — the override must bind
    assert(perHost.exists(r => r.getString(1) == uni.host(0) && r.getLong(2) == 2L),
      s"expected the ${uni.host(0)} cap to bind in some round")
  }

  test("op 47: threshold salting flattens a Zipf-hot host; the schedule is layout-invariant") {
    import spark.implicits._
    // adversarial head: ONE host owns 50% of the scheduled candidates
    val hot = (1 to 4000).map(i => (f"https://hot.com/p$i%05d", "hot.com", "com.hot", 0, 0, i))
    val cold = for { h <- 1 to 40; i <- 1 to 100 }
      yield (f"https://c$h.com/p$i%05d", s"c$h.com", s"com.c$h", 0, 0, i)
    val cands = (hot ++ cold)
      .toDF("canon_url", "host", "host_rev", "depth", "discovery_round", "host_rank")
    val plain = cfg.copy(numPartitions = 8, hostSaltThreshold = Int.MaxValue)
    val salted = cfg.copy(numPartitions = 8, hostSaltThreshold = 512)
    def maxPartitionRows(c: CrawlConfig): Long =
      CrawlRound.politenessLayout(cands, c)
        .groupBy(spark_partition_id()).count()
        .agg(max(col("count"))).head().getLong(0)
    val maxPlain = maxPartitionRows(plain)
    val maxSalted = maxPartitionRows(salted)
    // unsalted: the hot host serializes through one partition (the straggler)
    assert(maxPlain >= 4000, s"expected the hot host in one partition, max=$maxPlain")
    // salted: 512-row chunks spread — per-partition load flattens toward the
    // 1000-row uniform share (8000 rows / 8 partitions)
    assert(maxSalted * 2 <= maxPlain, s"salt did not flatten: $maxSalted vs $maxPlain")
    assert(maxSalted <= 2500, s"salted straggler too large: $maxSalted")
    // and the politeness schedule itself is identical across layouts —
    // statelessness of the closed form is what makes the salt legal
    def sched(c: CrawlConfig): Set[(String, Long)] =
      TokenBucket.scheduleByRank(CrawlRound.politenessLayout(cands, c), c.burst, c.ratePerSec)
        .select("canon_url", "scheduled_offset_ms").as[(String, Long)].collect().toSet
    assert(sched(plain) == sched(salted), "schedule changed under salting")
  }

  test("salting end-to-end: an aggressive threshold leaves the committed crawl byte-identical") {
    // hostSaltThreshold=2 forces the salt to actually trigger (every host
    // with >2 scheduled candidates splits) through the FULL loop — the
    // committed fetch_log must not notice: offsets are closed-form over
    // host_rank and fetch_seq ranks by priority, both layout-independent.
    val (catA, _, _) = runCrawl(tmp(), 600, 6, 3)
    val (catB, _, _) = runCrawl(tmp(), 600, 6, 3, cfg.copy(hostSaltThreshold = 2))
    val proj = Seq("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256")
    val a = Crawl.fullFetchLog(spark, catA).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val b = Crawl.fullFetchLog(spark, catB).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    assert(a.length == b.length && a.sameElements(b),
      "salted politeness layout changed the committed crawl")
  }

  test("bloom FPR accounting: measured in-loop FPR ≤ 2× configured fpp") {
    // closes the loop between SketchSpec's unit FPR property and the live
    // crawl: per-round lineage already counts discovered / bloom_might /
    // enqueued, so the loop's own metrics bound the realized FPR.
    //   false positives  = enqueued − (discovered − bloom_might)  [verifiedNew]
    //   actually-new set = discovered − deduped_exact             [bloom-tested negatives]
    val (_, results, _) = runCrawl(tmp(), 1000, 8, 3)
    val fp = results.map(r => r.enqueued - r.dedupedBloomDefinite).sum
    val tested = results.map(r => r.discovered - r.dedupedExact).sum
    assert(tested > 100, s"fixture too small to measure FPR (tested=$tested)")
    val fpr = fp.toDouble / tested
    assert(fpr <= 2 * cfg.bloomFpp,
      f"measured in-loop bloom FPR $fpr%.5f exceeds 2× configured ${cfg.bloomFpp}")
  }

  test("adaptive sketch: undersized bloom converges to the FPR gate; crawl unchanged") {
    def fpr(r: CrawlRound.RoundResult): Double = {
      val tested = r.discovered - r.dedupedExact
      if (tested == 0) 0.0 else (r.enqueued - r.dedupedBloomDefinite).toDouble / tested
    }
    // bloomExpectedPerPartition = 16 ⇒ 154 bits/partition for a fixture
    // that accumulates hundreds of keys per partition: saturated on purpose
    val tiny = cfg.copy(bloomExpectedPerPartition = 16, adaptiveSketch = true)
    val (catA, resA, _) = runCrawl(tmp(), 2000, 16, 6, tiny)
    val (catB, resB, _) = runCrawl(tmp(), 2000, 16, 6,
      cfg.copy(bloomExpectedPerPartition = 16))
    // committed crawl is byte-identical with the flag on or off: the bloom
    // only pre-filters the exact anti-join, never decides membership
    val proj = Seq("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256")
    val a = Crawl.fullFetchLog(spark, catA).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val b = Crawl.fullFetchLog(spark, catB).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    assert(a.length == b.length && a.sameElements(b), "adaptive sizing changed the crawl")
    // vacuity guard: the frozen undersized run really is saturated
    val meas = (rs: Seq[CrawlRound.RoundResult]) =>
      rs.filter(r => r.discovered - r.dedupedExact > 50)
    assert(meas(resB).nonEmpty && fpr(meas(resB).last) > 2 * cfg.bloomFpp,
      s"fixture not saturating: ${resB.map(fpr)}")
    // the adaptive run's final measured round is back under the gate
    assert(fpr(meas(resA).last) <= 2 * cfg.bloomFpp,
      s"adaptive FPR did not converge: ${resA.map(fpr)}")
    // and the committed snapshot's geometry actually grew from cfg's
    val bytes = catA.load(spark, "url_seen").get
      .select("sketch").head().getAs[Array[Byte]](0)
    val bb = java.nio.ByteBuffer.wrap(bytes); bb.getInt(); bb.getInt()
    assert(bb.getInt() > graft.sketch.BloomFilter.geometry(16, cfg.bloomFpp)._1,
      "committed sketch geometry never grew")
    // resume inherits the resized geometry (a cfg-sized delta would fail to
    // OR-merge): two more rounds on catalog A must not throw and stay green
    val more = Crawl.runRounds(spark, catA, tiny, 2)
    more.foreach(r => assert(r.textMismatches == 0))
    // ...and geometry adoption must NOT be gated on the adaptive flag: the
    // same resized catalog resumed with adaptiveSketch=false builds its
    // deltas at the COMMITTED geometry (regression: cfg-sized deltas threw
    // a bloom geometry mismatch on the first merge)
    val moreOff = Crawl.runRounds(spark, catA,
      cfg.copy(bloomExpectedPerPartition = 16), 1)
    moreOff.foreach(r => assert(r.textMismatches == 0))
    // hysteresis: a rebuild at round N first serves probes at N+1, so the
    // earliest legal re-trigger lands at N+2 — consecutive rebuild rounds
    // mean the stale-FPR signal re-fired on the pre-rebuild snapshot
    val rebuiltRounds = (1 to catA.latestRound.get)
      .filter(r => catA.metricsOf(r).getOrElse("sketch_rebuilt", 0L) == 1L)
    assert(rebuiltRounds.nonEmpty, "fixture never rebuilt — hysteresis unexercised")
    rebuiltRounds.sliding(2).foreach {
      case Seq(a2, b2) => assert(b2 - a2 >= 2,
        s"consecutive adaptive rebuilds at rounds $a2,$b2 — stale-FPR re-fire")
      case _ =>
    }
  }

  test("sitemap seeding: robots Sitemap <loc>s join the depth-0 frontier and fetch") {
    import spark.implicits._
    import graft.html.Html
    def page(url: String, body: String): PageRow = PageRow(url,
      new java.sql.Timestamp(1600000000000L), body.getBytes("UTF-8"),
      Html.extractTextStr(body), "en")
    val xml =
      """<?xml version="1.0"?><urlset>
        |<url><loc>https://smseed.com/deep/a</loc></url>
        |<url><loc>https://smseed.com/deep/b</loc></url>
        |</urlset>""".stripMargin
    val pages = Seq(
      // the sitemap doc itself: corpus row, never a page fetch (only its
      // locs are seeded)
      PageRow("https://smseed.com/sitemap.xml",
        new java.sql.Timestamp(1600000000000L), xml.getBytes("UTF-8"), "", "en"),
      // orphans: no inlink anywhere — reachable ONLY via the sitemap
      page("https://smseed.com/deep/a", "<html><body><p>Deep A.</p></body></html>"),
      page("https://smseed.com/deep/b", "<html><body><p>Deep B.</p></body></html>"),
      page("https://seeded.com/", "<html><body><p>Root page.</p></body></html>")).toDF()
    val robots = Seq(
      ("smseed.com", "User-agent: *\nDisallow:\nSitemap: https://smseed.com/sitemap.xml"),
      ("seeded.com", "User-agent: *\nDisallow:")).toDF("host", "robots_body")
    def run(c: CrawlConfig): (Array[org.apache.spark.sql.Row], Set[String]) = {
      val catalog = new HadoopSnapshotCatalog(tmp())
      Crawl.bootstrap(spark, catalog, pages, robots, Seq("https://seeded.com/"), c)
      // provenance read BEFORE the round consumes the bootstrap frontier
      val f0 = catalog.load(spark, "frontier").get
        .filter(col("canon_url") === "https://smseed.com/deep/a")
        .select("src_url", "depth").collect()
      val res = Crawl.runRounds(spark, catalog, c, 1)
      res.foreach(r => assert(r.textMismatches == 0))
      (f0, Crawl.fullFetchLog(spark, catalog)
        .select("canon_url").as[String].collect().toSet)
    }
    val (f0On, fetchedOn) = run(cfg.copy(seedFromSitemaps = true))
    assert(fetchedOn == Set("https://seeded.com/",
      "https://smseed.com/deep/a", "https://smseed.com/deep/b"))
    // provenance: the sitemap-discovered candidate carries the sitemap as src
    assert(f0On.nonEmpty && f0On.head.getString(0) == "https://smseed.com/sitemap.xml"
      && f0On.head.getInt(1) == 0)
    // flag off: the orphans are unreachable
    val (f0Off, fetchedOff) = run(cfg) // seedFromSitemaps = false
    assert(f0Off.isEmpty && fetchedOff == Set("https://seeded.com/"))
  }

  test("trap guard: hostFrontierCap bounds committed frontier; prune is permanent") {
    import spark.implicits._
    import graft.html.Html
    def page(url: String, body: String): PageRow = PageRow(url,
      new java.sql.Timestamp(1600000000000L), body.getBytes("UTF-8"),
      Html.extractTextStr(body), "en")
    // a "trap": the root mints 40 distinct leaf URLs in one page
    val leaves = (1 to 40).map(i => f"https://trap.com/t$i%02d")
    val rootBody = "<html><body>" +
      leaves.map(u => s"""<a href="$u">x</a>""").mkString + "</body></html>"
    val pages = (page("https://trap.com/", rootBody) +:
      leaves.map(u => page(u, "<html><body><p>Leaf.</p></body></html>"))).toDF()
    val robots = Seq(("trap.com", "User-agent: *\nDisallow:")).toDF("host", "robots_body")
    val c = cfg.copy(hostBudget = 4, hostFrontierCap = 8)
    val catalog = new HadoopSnapshotCatalog(tmp())
    Crawl.bootstrap(spark, catalog, pages, robots, Seq("https://trap.com/"), c)
    val results = Crawl.runRounds(spark, catalog, c, 5)
    results.foreach(r => assert(r.textMismatches == 0))
    // round 1 fetched the root and discovered 40 leaves; the committed
    // frontier kept only the cap-sized priority prefix (canon_url order at
    // equal depth/round) — t01..t08 — and the invariant holds every round
    (1 to catalog.latestRound.get).foreach { r =>
      val fr = catalog.load(spark, "frontier", Some(r)).get
      val perHost = fr.groupBy("host").count().collect()
      perHost.foreach(row => assert(row.getLong(1) <= 8,
        s"round $r: frontier holds ${row.getLong(1)} rows for ${row.getString(0)}"))
    }
    // the prune is PERMANENT: pruned leaves entered the seen set, so the
    // whole crawl fetches root + exactly the 8 kept leaves and then drains
    val fetched = Crawl.fullFetchLog(spark, catalog)
      .select("canon_url").as[String].collect().toSet
    assert(fetched == (Set("https://trap.com/") ++ leaves.take(8)),
      s"fetched $fetched")
  }

  test("robots: no fetched URL violates its host's rules") {
    val (catalog, _, uni) = runCrawl(tmp(), 1000, 8, 3)
    val log = Crawl.fullFetchLog(spark, catalog)
    val fetched = log.select("canon_url").collect().map(_.getString(0))
    val bodies = (0 until uni.nHosts).map(i => uni.host(i) -> uni.robotsBody(i)).toMap
    fetched.foreach { u =>
      val host = graft.urls.UrlCanon.hostOf(u)
      bodies.get(host).flatten.foreach { body =>
        val rules = graft.robots.Robots.parse(body)
        val path = u.substring(u.indexOf(host) + host.length)
        assert(graft.robots.Robots.allows(rules, cfg.userAgent, if (path.isEmpty) "/" else path),
          s"fetched $u violates robots of $host")
      }
    }
  }

  test("URL-seen: exact set equals seeds ∪ enqueued; sketches have no false negatives") {
    val (catalog, results, _) = runCrawl(tmp(), 1000, 8, 3)
    val seen = catalog.load(spark, "url_seen_exact").get
    assert(seen.count() == seen.select("canon_url").distinct().count(), "seen set has dups")
    // frontier ⊆ seen
    val frontier = catalog.load(spark, "frontier").get
    assert(frontier.join(seen, Seq("canon_url"), "left_anti").count() == 0)
    // every seen url is positive in its partition's sketch
    assertSketchesCoverSeen(catalog, cfg.numPartitions)
  }

  test("in-memory handoff ≡ per-round reference, both truncation tiers: tables, metrics, drain") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "session already has a checkpoint dir")
    // enough rounds that the frontier DRAINS: the loop runs one speculative
    // round past the drain and must discard it uncommitted
    val (catA, resA, _) = runCrawl(tmp(), 400, 6, 30) // local-checkpoint hop
    val (catB, resB, _) = runCrawl(tmp(), 400, 6, 30, perRound = true)
    // cluster-durable tier: the session's checkpoint dir selects the
    // reliable-checkpoint hop
    val ((catC, resC, _), ckptFiles) = withCheckpointDir(tmp())(runCrawl(tmp(), 400, 6, 30))
    assert(resA.size < 30, "fixture did not drain — the discard path went unexercised")
    val sig = (rs: Seq[CrawlRound.RoundResult]) =>
      rs.map(r => (r.round, r.fetched, r.enqueued, r.robotsDenied))
    assert(sig(resA) == sig(resB))
    assert(sig(resC) == sig(resB), "reliable-checkpoint run diverged from the reference")
    // the reliable hop actually wrote durable frames (lineage truncation is
    // real, not a silent fall-through to the local tier)
    assert(ckptFiles > 0, "checkpoint dir is empty — no frame was durably hopped")
    // identical committed rounds: the speculative post-drain round left no trace
    assert(catA.latestRound == catB.latestRound && catC.latestRound == catB.latestRound)
    val proj = Seq("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256")
    val a = Crawl.fullFetchLog(spark, catA).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val b = Crawl.fullFetchLog(spark, catB).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val c = Crawl.fullFetchLog(spark, catC).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    assert(a.length == b.length && a.sameElements(b), "local-checkpoint run diverged from the reference")
    assert(c.length == b.length && c.sameElements(b), "reliable-checkpoint run diverged from the reference")
    // commit-time metrics (Observation-fed, including total_fetched computed
    // from the driver-side fetch_seq base handoff) agree with the reference
    val last = catA.latestRound.get
    assert(catA.metricsOf(last) == catB.metricsOf(last))
    assert(catC.metricsOf(last) == catB.metricsOf(last))
    assert(catA.metricsOf(last)("total_fetched") == resA.map(_.fetched).sum)
    // the seen set (append-delta chain) agrees too
    val seenA = catA.load(spark, "url_seen_exact").get
    val seenB = catB.load(spark, "url_seen_exact").get
    val seenC = catC.load(spark, "url_seen_exact").get
    assert(seenA.exceptAll(seenB).isEmpty && seenB.exceptAll(seenA).isEmpty)
    assert(seenC.exceptAll(seenB).isEmpty && seenB.exceptAll(seenC).isEmpty)
  }

  test("in-loop robots: the robots-delta frame hops under both tiers, ≡ per-round reference") {
    val inLoop = cfg.copy(robotsFetchInLoop = true)
    val (catRef, resRef, _) = runCrawl(tmp(), 400, 6, 4, inLoop, perRound = true)
    val (catA, resA, _) = runCrawl(tmp(), 400, 6, 4, inLoop)
    val ((catB, resB, _), ckptFiles) = withCheckpointDir(tmp())(runCrawl(tmp(), 400, 6, 4, inLoop))
    assert(ckptFiles > 0, "checkpoint dir is empty — no frame was durably hopped")
    assert(resRef.head.robotsFetched > 0, "in-loop robots round went unexercised")
    def fetches(cat: StateCatalog) = Crawl.fullFetchLog(spark, cat).orderBy("fetch_seq")
      .select("fetch_seq", "canon_url", "status").collect()
    val ref = fetches(catRef)
    for ((name, cat, res) <- Seq(("local", catA, resA), ("reliable", catB, resB))) {
      assert(res.map(r => (r.round, r.fetched, r.robotsFetched)) ==
        resRef.map(r => (r.round, r.fetched, r.robotsFetched)), s"$name-checkpoint results diverged")
      val got = fetches(cat)
      assert(got.length == ref.length && got.sameElements(ref), s"in-loop $name-checkpoint run diverged")
    }
  }

  /** Bootstraps and runs `rounds` rounds over an eagerly opened state,
    * closes it, and asserts no RDD the crawl persisted is left. */
  private def crawlReleasingEveryBlock(nPages: Long, nSeeds: Int,
      rounds: Int): Seq[CrawlRound.RoundResult] = {
    val (catalog, _) = bootstrapCrawl(tmp(), nPages, nSeeds, cfg)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val st = Crawl.openState(spark, catalog, cfg, eager = true)
    val results = try Crawl.runRounds(spark, catalog, cfg, rounds, st) finally st.close()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the crawl left ${leaked.size} persisted RDDs: $leaked")
    results
  }

  test("runRounds + CrawlState.close() release every block the crawl pinned, hopped frames included") {
    val results = crawlReleasingEveryBlock(1000, 8, 3)
    assert(results.size == 3, "the crawl stopped before its two handoffs")
  }

  test("a draining runRounds releases every block, the discarded speculative round's hops included") {
    // the handoff spec's draining fixture: the loop runs one round past the
    // drain, hops its frames before the barrier, then discards it
    val results = crawlReleasingEveryBlock(400, 6, 30)
    assert(results.size < 30, "fixture did not drain — the discard path went unexercised")
  }

  test("abandoned in-flight commit never publishes its manifest (quiesce poison)") {
    // the PRIMARY exception surfaces — the quiesce timeout did not mask it
    val thrown = crawlAbandoningRound1(plantFailure = true)
    assert(thrown.getMessage == "planted loop failure", s"unexpected failure: $thrown")
  }

  test("wedged commit, no loop failure: the bounded barrier fails the crawl, round 1 never publishes") {
    // nothing else goes wrong: the loop reaches round 2's barrier and must
    // give up on round 1's commit after commitQuiesceTimeoutSec, naming it
    val thrown = crawlAbandoningRound1(plantFailure = false)
    assert(thrown.isInstanceOf[java.util.concurrent.TimeoutException] &&
      thrown.getMessage.contains("commit r1"), s"unexpected failure: $thrown")
  }

  test("determinism: identical fetch_log across two full runs") {
    val (catA, _, _) = runCrawl(tmp(), 1000, 8, 3)
    val (catB, _, _) = runCrawl(tmp(), 1000, 8, 3)
    val a = Crawl.fullFetchLog(spark, catA).orderBy("fetch_seq")
      .select("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256").collect()
    val b = Crawl.fullFetchLog(spark, catB).orderBy("fetch_seq")
      .select("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256").collect()
    assert(a.length == b.length && a.sameElements(b), "two runs diverged")
  }

  test("resume: rounds 1-3 ≡ rounds 1-2 then resume 3 (fresh catalog handle)") {
    val dirA = tmp(); val dirB = tmp()
    runCrawl(dirA, 1000, 8, 3)
    val (catB0, _, _) = runCrawl(dirB, 1000, 8, 2)
    // resume with a brand-new catalog object — state only from disk
    val catB = new HadoopSnapshotCatalog(dirB)
    Crawl.runRounds(spark, catB, cfg, 1)
    val a = Crawl.fullFetchLog(spark, new HadoopSnapshotCatalog(dirA))
      .orderBy("fetch_seq").select("fetch_seq", "canon_url", "status").collect()
    val b = Crawl.fullFetchLog(spark, catB)
      .orderBy("fetch_seq").select("fetch_seq", "canon_url", "status").collect()
    assert(a.length == b.length && a.sameElements(b), "resumed run diverged")
  }

  test("robots in-loop: unknown hosts defer one round while robots fetch, then proceed") {
    val c2 = cfg.copy(robotsFetchInLoop = true)
    val (catalog, results, uni) = runCrawl(tmp(), 1000, 8, 4, c2)
    // round 1 is a robots-acquisition round: no page fetch can precede the
    // host's robots verdict (RFC 9309), so fetched == 0 but robots > 0
    assert(results.head.fetched == 0, s"round 1 fetched ${results.head.fetched} before robots known")
    assert(results.head.robotsFetched > 0)
    assert(results(1).fetched > 0, "deferred candidates must proceed once robots are known")
    // the compliance invariant holds identically in this mode
    val log = Crawl.fullFetchLog(spark, catalog)
    val bodies = (0 until uni.nHosts).map(i => uni.host(i) -> uni.robotsBody(i)).toMap
    log.select("canon_url").collect().map(_.getString(0)).foreach { u =>
      val host = graft.urls.UrlCanon.hostOf(u)
      bodies.get(host).flatten.foreach { body =>
        val rules = graft.robots.Robots.parse(body)
        val path = u.substring(u.indexOf(host) + host.length)
        assert(graft.robots.Robots.allows(rules, c2.userAgent, if (path.isEmpty) "/" else path))
      }
    }
  }

  test("re-crawl (op 46): changed pages re-fetch new content; vanished keys evict from cuckoo") {
    import spark.implicits._
    val c2 = cfg.copy(filterKind = "cuckoo")
    val dir = tmp()
    val uni = FixtureGen.Universe(600)
    // v1-only corpus (second versions withheld — they are "the future")
    val pagesV1 = spark.range(600).map(p => uni.pageRow(p)).toDF()
    val robots = (0 until uni.nHosts).flatMap(i => uni.robotsBody(i).map(b => (uni.host(i), b)))
      .toDF("host", "robots_body")
    val catalog = new HadoopSnapshotCatalog(dir)
    Crawl.bootstrap(spark, catalog, pagesV1, robots, uni.seeds(8), c2)
    Crawl.runRounds(spark, catalog, c2, 3)
    val log1 = Crawl.fullFetchLog(spark, catalog)
    val fetched1 = log1.filter(col("status") === 200)
      .select("canon_url").collect().map(_.getString(0)).toSet
    val frontierUrls = catalog.load(spark, "frontier").get
      .select("canon_url").collect().map(_.getString(0)).toSet
    // pick a fetched, unchanged, not-currently-queued page to vanish
    val vanishP = (0L until 600L).find(p => !uni.hasSecondVersion(p)
      && fetched1.contains(uni.canonUrl(p)) && !frontierUrls.contains(uni.canonUrl(p))).get
    // the new corpus: v1 + the 2% second versions, minus the vanished page
    val pagesV2 = spark.range(600).filter(p => p != vanishP).map(p => uni.pageRow(p)).toDF()
      .unionByName(spark.range(600).filter(p => uni.hasSecondVersion(p) && p != vanishP)
        .map(p => uni.pageRowV2(p)).toDF())
    val rr = Crawl.recrawlChanged(spark, catalog, c2, pagesV2)
    val changedFetched = (0L until 600L)
      .filter(p => uni.hasSecondVersion(p) && fetched1.contains(uni.canonUrl(p)))
    assert(rr.changed >= changedFetched.size, s"changed ${rr.changed} < ${changedFetched.size}")
    assert(rr.vanished >= 1)
    // the vanished key's fingerprint is DELETED from its cuckoo sketch
    val vu = uni.canonUrl(vanishP)
    val vuMight = CrawlRound.probeSeen(Seq(vu).toDF("canon_url"),
      catalog.load(spark, "url_seen").get, c2.numPartitions).head().getAs[Boolean]("might_seen")
    assert(!vuMight, "cuckoo sketch must drop a vanished key (fp collision is ~2^-16 here)")
    // and it is gone from the exact store
    assert(catalog.load(spark, "url_seen_exact").get
      .filter(col("canon_url") === vu).count() == 0)
    // subsequent rounds re-fetch every changed page with NEW content
    Crawl.runRounds(spark, catalog, c2, 3)
    val log2 = Crawl.fullFetchLog(spark, catalog)
    changedFetched.foreach { p =>
      val u = uni.canonUrl(p)
      val shas = log2.filter(col("canon_url") === u && col("status") === 200)
        .select("text_sha256").collect().map(_.getString(0)).toSeq
      assert(shas.length >= 2, s"changed page $u fetched ${shas.length} time(s)")
      assert(shas.distinct.length >= 2, s"re-fetch of $u returned identical content")
    }
  }

  test("revisit loop: recrawl_log observations drive the freshness due-set (changed urls due before stable ones)") {
    import spark.implicits._
    val dir = tmp()
    val uni = FixtureGen.Universe(600)
    val pagesV1 = spark.range(600).map(p => uni.pageRow(p)).toDF()
    val robots = (0 until uni.nHosts).flatMap(i => uni.robotsBody(i).map(b => (uni.host(i), b)))
      .toDF("host", "robots_body")
    val catalog = new HadoopSnapshotCatalog(dir)
    Crawl.bootstrap(spark, catalog, pagesV1, robots, uni.seeds(8), cfg)
    Crawl.runRounds(spark, catalog, cfg, 3)
    // before any recrawl: no observations, nothing due
    assert(Crawl.revisitDue(spark, catalog, atRound = 99L).count() == 0)
    val fetched = Crawl.fullFetchLog(spark, catalog).filter(col("status") === 200)
      .select("canon_url").collect().map(_.getString(0)).toSet
    val pagesV2 = pagesV1.unionByName(
      spark.range(600).filter(p => uni.hasSecondVersion(p)).map(p => uni.pageRowV2(p)).toDF())
    Crawl.recrawlChanged(spark, catalog, cfg, pagesV2) // cycle 1: 2% change
    val r2 = catalog.latestRound.get + 1
    Crawl.recrawlChanged(spark, catalog, cfg, pagesV2) // cycle 2: all stable
    val changedUrl = (0L until 600L)
      .find(p => uni.hasSecondVersion(p) && fetched.contains(uni.canonUrl(p)))
      .map(uni.canonUrl).get
    val stableUrl = (0L until 600L)
      .find(p => !uni.hasSecondVersion(p) && fetched.contains(uni.canonUrl(p)))
      .map(uni.canonUrl).get
    def due(at: Long): Set[String] = Crawl.revisitDue(spark, catalog, at)
      .select("canon_url").collect().map(_.getString(0)).toSet
    // changed@cycle1 + stable@cycle2 → streak 1 → due r2+2;
    // stable both cycles → streak 2 → due r2+4
    val early = due(r2 + 2)
    assert(early.contains(changedUrl), s"changed url not due at r2+2")
    assert(!early.contains(stableUrl), s"stable url must back off past r2+2")
    val late = due(r2 + 4)
    assert(late.contains(changedUrl) && late.contains(stableUrl),
      s"both due by r2+4: ${late.size}")
    assert(due(r2 + 1).isEmpty, "nothing due the round after the last observation")
  }

  test("canonicalizePages: same-second recapture ties resolve to ONE deterministic row") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    val rows = Seq(
      // two co-canonicalizing captures with IDENTICAL warc_ts, different content
      ("https://ex.com/a", ts, "<p>v1</p>".getBytes, "v1", "en"),
      ("https://EX.com/a", ts, "<p>v2</p>".getBytes, "v2", "en"),
      // a literal duplicate capture (same url, ts, content) appearing twice
      ("https://ex.com/b", ts, "<p>w</p>".getBytes, "w", "en"),
      ("https://ex.com/b", ts, "<p>w</p>".getBytes, "w", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val out1 = CrawlRound.canonicalizePages(rows)
      .select("canon_url", "ref_text").collect().map(r => r.getString(0) -> r.getString(1)).sorted
    assert(out1.length == 2, s"one row per canon_url required, got ${out1.mkString(",")}")
    // determinism across partitionings: the tie winner must not depend on layout
    val out2 = CrawlRound.canonicalizePages(rows.repartition(7))
      .select("canon_url", "ref_text").collect().map(r => r.getString(0) -> r.getString(1)).sorted
    assert(out1.sameElements(out2), "tie-break winner depends on partitioning")
  }

  test("rankPriority: high-rank hosts schedule first and survive the round budget") {
    import spark.implicits._
    // bucket thresholds are exact integers: v = 1 + rank div 1e6
    val tiers = graft.operators.LinkRank.bucketByRank(
      Seq(("x", 150000L), ("y", 1000000L), ("z", 3000000L), ("w", 7000000L)).toDF("node", "rank"), 4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(tiers == Map("x" -> 3, "y" -> 2, "z" -> 1, "w" -> 0), s"bucket thresholds off: $tiers")

    // direct round: two hosts, equal depth, budget 4 of 6 candidates — the
    // ranked host (bucket 0) takes the first three fetch_seq slots AND
    // crowds the unranked host down to one surviving candidate
    val urls = for (h <- Seq("a.test", "b.test"); i <- 1 to 3) yield s"https://$h/p$i"
    val pages = urls.map(u => (u, s"<html><body>page $u</body></html>", null: String))
      .toDF("canon_url", "html", "ref_text")
    val frontier = urls.map { u =>
      val h = u.stripPrefix("https://").takeWhile(_ != '/')
      (u, u, h, h.split('.').reverse.mkString("."), 0, 0, null: String)
    }.toDF("canon_url", "raw_url", "host", "host_rev", "depth", "discovery_round", "src_url")
    val robots = Seq(("zzz.test", "User-agent: *\nAllow: /")).toDF("host", "robots_body")
      .withColumn("rules", graft.functions.CrawlUdfs
        .robots_parse_ua(col("robots_body"), lit(cfg.userAgent)).getField("_1"))
      .select("host", "rules")
    val c = cfg.copy(rankPriority = true, roundBudget = 4, numPartitions = 4)
    val out = CrawlRound.run(frontier, Seq.empty[String].toDF("canon_url"),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.urlSeen),
      pages, robots, c, round = 1, fetchSeqBase = 0L,
      robotsSource = None, hostRanks = Some(Seq(("a.test", 0)).toDF("host", "rank_bucket")))
    val got = out.fetchLog.select("canon_url", "fetch_seq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.persisted.foreach(_.unpersist())
    assert(got == Map(
      "https://a.test/p1" -> 0L, "https://a.test/p2" -> 1L, "https://a.test/p3" -> 2L,
      "https://b.test/p1" -> 3L), s"rank-priority schedule wrong: $got")
  }

  test("rankPriority e2e: host_edges chain commits; ≡ per-round reference; order shifts vs unranked") {
    // dense enough that the Zipf-hot hosts cross the rank ≥ 1.0 tier
    // boundary after round 1's links (sparser fixtures leave every host in
    // the coldest bucket and the signal is a no-op by construction)
    val rp = cfg.copy(rankPriority = true, roundBudget = 24)
    val (catA, resA, _) = runCrawl(tmp(), 2000, 32, 6, rp)
    val (catB, _, _) = runCrawl(tmp(), 2000, 32, 6, rp, perRound = true)
    assert(resA.map(_.fetched).sum > 0)
    val proj = Seq("fetch_seq", "canon_url", "status", "scheduled_offset_ms", "text_sha256")
    val a = Crawl.fullFetchLog(spark, catA).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val b = Crawl.fullFetchLog(spark, catB).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    // the rank signal lags one round identically under the handoff and
    // when every round reads the committed host graph back
    assert(a.length == b.length && a.sameElements(b), "rank-priority run diverged from the reference")
    // the committed host graph: non-empty append chain of cross-host edges
    val edges = catA.load(spark, "host_edges").get
    assert(edges.count() > 0, "no host_edges delta was committed")
    assert(edges.filter(col("src") === col("dst")).count() == 0, "self-edges in host graph")
    // vacuity guard: the edge set consumed by the LAST round must tier at
    // least one host above the coldest bucket (the Zipf-hot h0 crosses the
    // rank ≥ 1.0 boundary in the round-4 edge set of this fixture)
    val lastIn = catA.load(spark, "host_edges", Some(catA.latestRound.get - 1)).get.distinct()
    val consumed = graft.operators.LinkRank.bucketByRank(
      graft.operators.LinkRank.linkRank(lastIn, rp.rankIters), rp.rankBuckets)
    assert(consumed.select("rank_bucket").distinct().count() >= 2,
      "no host ever left the coldest bucket — the order-shift assertion is vacuous")
    // and the signal is real: an unranked run at the same budget crawls a
    // different order (round 1 is identical by construction — no edges yet)
    val (catC, _, _) = runCrawl(tmp(), 2000, 32, 6, cfg.copy(roundBudget = 24))
    val c = Crawl.fullFetchLog(spark, catC).orderBy("fetch_seq").select(proj.map(col): _*).collect()
    assert(!(a.length == c.length && a.sameElements(c)), "rankPriority had no effect on crawl order")
    val aR1 = Crawl.fullFetchLog(spark, catA).filter(col("round") === 1)
      .orderBy("fetch_seq").select(proj.map(col): _*).collect()
    val cR1 = Crawl.fullFetchLog(spark, catC).filter(col("round") === 1)
      .orderBy("fetch_seq").select(proj.map(col): _*).collect()
    assert(aR1.sameElements(cR1), "round 1 must be identical — no rank signal exists yet")
  }

  test("cuckoo tier: same crawl, delete-capable seen filter") {
    val c2 = cfg.copy(filterKind = "cuckoo")
    val (catalog, results, _) = runCrawl(tmp(), 500, 4, 2, c2)
    assert(results.head.fetched > 0)
    assertSketchesCoverSeen(catalog, c2.numPartitions)
  }

  test("catalog maintenance: compact + expire + vacuum keep state; resumed crawl identical") {
    val dirA = tmp(); val dirB = tmp()
    runCrawl(dirA, 1000, 8, 3) // control: uninterrupted 3 rounds
    val (catB, _, _) = runCrawl(dirB, 1000, 8, 2)
    def seenSet(c: StateCatalog) = c.load(spark, "url_seen_exact").get
      .select("canon_url").collect().map(_.getString(0)).toSet
    val before = seenSet(catB)

    // the monotone seen set accumulated bootstrap + 2 round deltas
    val folded = catB.compactTable(spark, "url_seen_exact")
    assert(folded >= 3, s"expected a ≥3-link chain to fold, got $folded")
    assert(catB.compactTable(spark, "url_seen_exact") == 0, "second compact must be a no-op")
    assert(seenSet(catB) == before, "compaction changed the visible row set")

    // expire history below the latest snapshot, then vacuum the orphans
    val latest = catB.latestRound.get
    val expired = catB.expireSnapshots(latest)
    assert(expired.nonEmpty, "expected pre-horizon manifests to expire")
    val removed = catB.vacuumOrphans()
    assert(removed.nonEmpty, s"folded deltas + expired files should orphan, got $removed")
    assert(removed.exists(_.startsWith("url_seen_exact/")),
      s"the folded seen-set deltas must be vacuumable: $removed")
    assert(seenSet(catB) == before, "expiry/vacuum changed the visible row set")
    assert(catB.vacuumOrphans().isEmpty, "second vacuum must find nothing")

    // resume round 3 on the maintained catalog from a FRESH handle: the
    // round must equal the control's round 3 exactly (order + status)
    val catB2 = new HadoopSnapshotCatalog(dirB)
    Crawl.runRounds(spark, catB2, cfg, 1)
    def round3(c: StateCatalog) = c.load(spark, "fetch_log", Some(3)).get
      .orderBy("fetch_seq").select("fetch_seq", "canon_url", "status").collect()
    val a = round3(new HadoopSnapshotCatalog(dirA))
    val b = round3(catB2)
    assert(a.length == b.length && a.sameElements(b),
      "crawl resumed after maintenance diverged from the uninterrupted control")
  }

  test("catalog load starts no job and returns the schema inference would") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val sc = spark.sparkContext
    // jobs started by THIS thread only (a probe property rides its jobs)
    val probe = "graft.spec.loadProbe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(probe) != null)) jobs.incrementAndGet()
    }
    /** Loads `table`, asserting the load ran no job and its schema equals
      * what `spark.read.parquet` infers from the same directories; returns
      * the frame and its directory count. */
    def check(cat: StateCatalog, table: String, at: Option[Int], what: String)
        : (org.apache.spark.sql.DataFrame, Int) = {
      sc.setLocalProperty(probe, what)
      val df = try cat.load(spark, table, at).getOrElse(fail(s"$what: no $table"))
      finally sc.setLocalProperty(probe, null)
      org.apache.spark.ListenerDrain(sc)
      assert(jobs.getAndSet(0) == 0, s"$what: loading $table started a job")
      val dirs = df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
      }.getOrElse(fail(s"$what: $table is not a file scan"))
      assert(df.schema == spark.read.parquet(dirs: _*).schema, s"$what: $table schema differs")
      (df, dirs.size)
    }
    sc.addSparkListener(listener)
    try {
      // in-loop robots: round 1 only acquires robots, so its denied table
      // has zero rows
      val c = cfg.copy(robotsFetchInLoop = true)
      val dir = tmp()
      val uni = FixtureGen.Universe(500)
      val robots = (0 until uni.nHosts).flatMap(i => uni.robotsBody(i).map(b => (uni.host(i), b)))
        .toDF("host", "robots_body")
      val cat = new HadoopSnapshotCatalog(dir)
      Crawl.bootstrap(spark, cat, spark.range(500).map(p => uni.pageRow(p)).toDF(), robots,
        uni.seeds(8), c)
      Crawl.runRounds(spark, cat, c, 3)
      assert(cat.latestRound.contains(3))
      check(cat, "pages_canon", None, "full table")
      check(cat, "frontier", None, "full table")
      val (_, links) = check(cat, "url_seen_exact", None, "append chain")
      assert(links == 4, s"expected bootstrap + 3 deltas, got $links directories")
      val (denied, _) = check(cat, "denied", Some(1), "zero-row table")
      assert(denied.count() == 0, "round 1's denied table is not empty")
      val (log0, _) = check(cat, "fetch_log", Some(0), "zero-row table")
      assert(log0.count() == 0, "round 0's fetch_log is not empty")

      assert(cat.compactTable(spark, "url_seen_exact") == 4)
      val (_, folded) = check(cat, "url_seen_exact", None, "compacted chain")
      assert(folded == 1)

      // a recrawl resets the seen chain with a full table and starts the
      // recrawl_log append chain
      val pagesV2 = spark.range(500).map(p => uni.pageRow(p)).toDF()
        .unionByName(spark.range(500).filter(p => uni.hasSecondVersion(p))
          .map(p => uni.pageRowV2(p)).toDF())
      Crawl.recrawlChanged(spark, cat, c, pagesV2)
      check(cat, "url_seen_exact", None, "chain reset")
      check(cat, "recrawl_log", None, "chain reset")

      val latest = cat.latestRound.get
      assert(cat.expireSnapshots(latest).nonEmpty)
      Seq("frontier", "url_seen_exact", "url_seen", "fetch_log", "denied", "lineage")
        .foreach(t => check(cat, t, None, "expired manifest"))
    } finally sc.removeSparkListener(listener)
  }

  test("revisit schedule: backoff doubles per unchanged observation, caps, resets on change") {
    import spark.implicits._
    val hist = Seq(
      // urlA: changed @1, then unchanged @2,@3 → streak 2, interval 2·2²=8, due 11
      ("a", 1L, true), ("a", 2L, false), ("a", 3L, false),
      // urlB: never changed (@0,@4) → streak 2 → interval 8, due 12
      ("b", 0L, false), ("b", 4L, false),
      // urlC: changed on its LAST fetch → streak 0 → interval 2, due 7
      ("c", 2L, false), ("c", 5L, true),
      // urlD: 6 unchanged since the change @0 → streak 6 > cap 4 →
      // interval 2·2⁴=32, due 38
      ("d", 0L, true), ("d", 1L, false), ("d", 2L, false), ("d", 3L, false),
      ("d", 4L, false), ("d", 5L, false), ("d", 6L, false))
      .toDF("url", "round", "changed")
    for (parts <- Seq(1, 5)) {
      val got = Revisit.schedule(hist.repartition(parts), baseInterval = 2, maxDoublings = 4)
        .select($"url", $"last_round", $"unchanged_streak", $"interval", $"next_due_round")
        .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got("a") == (("a", 3L, 2L, 8L, 11L)), s"a: ${got("a")}")
      assert(got("b") == (("b", 4L, 2L, 8L, 12L)), s"b: ${got("b")}")
      assert(got("c") == (("c", 5L, 0L, 2L, 7L)), s"c: ${got("c")}")
      assert(got("d") == (("d", 6L, 6L, 32L, 38L)), s"d: ${got("d")}")
    }
  }
}
