package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.crawl.{Crawl, CrawlConfig, FixtureGen, HadoopSnapshotCatalog, StateCatalog}
import graft.html.Html
import graft.sketch.BloomFilter
import graft.urls.UrlCanon

import Main.secs

/** Size of a crawl workload. `parts` is the crawl's partition count P. */
final case class CrawlShape(pages: Long, textScale: Int, rounds: Int, parts: Int) {
  def nSeeds: Int = math.max(64, (pages / 8).toInt)
  /** `--pages` and `--parts` resize the workload (to reproduce
    * `graft.Bench`'s 60k-page crawl). */
  def withOverrides(o: Map[String, String]): CrawlShape = copy(
    pages = o.get("pages").map(_.toLong).getOrElse(pages),
    parts = o.get("parts").map(_.toInt).getOrElse(parts))
}

/**
 * Crawl workload. Per run: generate (or reuse) the corpus, take one set-up
 * sample, then run timed iterations until the run's seconds are spent (one,
 * at this size). An iteration sets up (`Crawl.bootstrap` plus an
 * eager `Crawl.openState` into a fresh catalog), times `Crawl.runRounds`
 * over the opened state, then times a resume: a fresh catalog handle, an
 * eager `openState` and one more committed round. The checks then read the
 * whole committed catalog, so they cover what both calls wrote.
 */
object CrawlBench {
  /** `graft.Bench`'s page weight (textScale 128) and seed fan-out, at a
    * size whose single pass fits a run. Fewer pages made the round counts,
    * and with them the throughput, swing between seeds. */
  val FatPages = CrawlShape(pages = 4000, textScale = 128, rounds = 3, parts = 4)

  def run(o: Opts, shape: CrawlShape, cpus: Int, rec: Recorder): Unit = {
    val spark = graft.Bench.session(cpus, shape.parts)
    val u = FixtureGen.Universe(shape.pages, o.seed, shape.textScale)
    val params = s"""{"gen":"crawl-v1","pages":${shape.pages},"textScale":${shape.textScale},""" +
      s""""seeds":${shape.nSeeds},"parts":${shape.parts},"seed":${o.seed}}"""
    val key = s"crawl_${shape.pages}_${shape.textScale}_${shape.parts}_${o.seed}"
    val corpus = Gen.cached(o.work.resolve("inputs").resolve(key), params) { d =>
      Gen.crawlCorpus(spark, d, u, shape.nSeeds, shape.parts)
    }
    val counts = o.counts.resolve(s"${key}_r${shape.rounds}.txt")
    val cfg = graft.Bench.benchCfg(shape.parts)
    val runDir = Main.freshDir(o.work.resolve("run"))
    val pagesRaw = spark.read.parquet(corpus.resolve("pages.parquet").toString)
    val robotsRaw = spark.read.parquet(corpus.resolve("robots.parquet").toString)
    val seeds = Gen.readSeeds(corpus)

    def setUp(dir: Path): (HadoopSnapshotCatalog, Crawl.CrawlState) = {
      val cat = new HadoopSnapshotCatalog(dir.toString)
      Crawl.bootstrap(spark, cat, pagesRaw, robotsRaw, seeds, cfg)
      (cat, Crawl.openState(spark, cat, cfg, eager = true))
    }

    val setupS = ArrayBuffer[Double]()
    val itemsPerS = ArrayBuffer[Double]()
    val resumeS = ArrayBuffer[Double]()
    val tracedItemsPerS = ArrayBuffer[Double]()
    val untracedItemsPerS = ArrayBuffer[Double]()
    val layers = ArrayBuffer[Map[String, Double]]()

    def iteration(i: Int): Unit = {
      val traced = o.trace && i == Main.TracedIteration
      val dir = runDir.resolve(s"crawl$i")
      val set = rec.op("setup") {
        val t0 = System.nanoTime()
        val r = setUp(dir)
        setupS += secs(t0)
        r
      }
      val listener = new JobListener
      val crawled = set.flatMap { case (plain, st) =>
        val timedCat = new TimedCatalog(plain)
        val cat: StateCatalog = if (traced) timedCat else plain
        try rec.op("crawl") {
          val ms0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val results =
            if (traced) Trace.withListener(spark.sparkContext, listener) {
              Crawl.runRounds(spark, cat, cfg, shape.rounds, st)
            }
            else Crawl.runRounds(spark, cat, cfg, shape.rounds, st)
          val wall = secs(t0)
          val ms1 = System.currentTimeMillis()
          val fetched = results.map(_.fetched).sum
          val items = fetched + results.map(_.discovered).sum
          Checks.require(Checks.repeats(counts, s"$fetched ${items - fetched}"))
          System.err.println(f"[perfbench] crawl $i: ${results.size} rounds, fetched $fetched, " +
            f"discovered ${items - fetched} in $wall%.3fs, traced=$traced")
          if (traced) tracedItemsPerS += items / wall
          else untracedItemsPerS += items / wall
          (traced, listener, timedCat, ms0, ms1, results)
        } finally st.close()
      }
      // the untraced iterations of the traced run only price the tracing
      val resumed = crawled.filter(_ => traced || !o.trace).flatMap { _ =>
        rec.op("resume") {
          val t0 = System.nanoTime()
          val plain = new HadoopSnapshotCatalog(dir.toString)
          val cat = new TimedCatalog(plain)
          val st = Crawl.openState(spark, if (traced) cat else plain, cfg, eager = true)
          try Crawl.runRounds(spark, if (traced) cat else plain, cfg, 1, st) finally st.close()
          val wall = secs(t0)
          System.err.println(f"[perfbench] resume $i: $wall%.3fs")
          if (plain.latestRound != Some(shape.rounds + 1))
            throw new CheckFailed(s"resume committed up to ${plain.latestRound}, not ${shape.rounds + 1}")
          Checks.require(Checks.crawl(spark, plain, shape.parts))
          if (!traced) resumeS += wall
          cat
        }
      }
      for ((traced, l, timedCat, ms0, ms1, results) <- crawled; resumeCat <- resumed; if traced)
        layers += crawlLayers(spark, l, timedCat, dir, cfg, shape, ms0, ms1, results) ++ Map(
          "catalog.load_s" -> resumeCat.loads.map(_._2).sum / 1e9,
          "catalog.chain_len" -> chainLen(dir).toDouble)
      if (crawled.isDefined && resumed.isDefined && !o.trace)
        itemsPerS ++= untracedItemsPerS.lastOption
      Fs.deleteRecursively(dir)
    }

    // a second set-up sample; it also runs the ingest paths once before the
    // first timed crawl
    rec.op("setup") {
      val t0 = System.nanoTime()
      val (_, st) = setUp(runDir.resolve("setup0"))
      setupS += secs(t0)
      st.close()
      Fs.deleteRecursively(runDir.resolve("setup0"))
    }
    Main.measure(o.seconds, if (o.trace) 3 else 1)(iteration)

    if (!o.trace) {
      rec.put("setup_s", Stats.median(setupS.toSeq), "s")
      rec.put("items_per_s", Stats.median(itemsPerS.toSeq), "1/s")
      rec.put("followup_s", Stats.median(resumeS.toSeq), "s")
    } else {
      val keys = layers.headOption.map(_.keys.toSeq).getOrElse(Nil)
      keys.foreach(k => rec.put(k, Stats.median(layers.map(_(k)).toSeq), Layers.unit(k)))
      micro(u, o.seed).foreach { case (k, v) => rec.put(k, v, Layers.unit(k)) }
      rec.put("trace.overhead_pct", Main.overheadPct(tracedItemsPerS.toSeq, untracedItemsPerS.toSeq), "%")
      Layers.fillAbsent(rec)
    }
  }

  /** Longest append chain of any table in the catalog's latest manifest. */
  def chainLen(dir: Path): Int = {
    val manifests = Fs.files(dir.resolve("_manifests"))
      .filter(_.getFileName.toString.matches("manifest_\\d+\\.json"))
    val latest = manifests.maxBy(_.getFileName.toString)
    val txt = new String(Files.readAllBytes(latest), UTF_8)
    """"table\.[^"]+"\s*:\s*"([^"]*)"""".r.findAllMatchIn(txt)
      .map(_.group(1).split(',').length).max
  }

  /** Per-layer metrics of one traced `runRounds` call over [ms0, ms1]. */
  private def crawlLayers(spark: SparkSession, l: JobListener, cat: TimedCatalog,
      dir: Path, cfg: CrawlConfig, shape: CrawlShape,
      ms0: Long, ms1: Long, results: Seq[graft.crawl.CrawlRound.RoundResult]): Map[String, Double] = {
    val plain = new HadoopSnapshotCatalog(dir.toString)
    val jobs = l.jobsBetween(ms0, ms1)
    val commits = cat.commits.sortBy(_._1).toSeq
    val r = commits.size.toDouble
    val fg = jobs.filterNot(_.isCommit)
    val cm = jobs.filter(_.isCommit)
    val subs = commits.map(_._2)
    // the loop waits at the barrier while the previous commit still runs
    // after the foreground's last job of the round has ended; planning in
    // that gap counts too, so this is an upper bound
    val barrierMs = commits.indices.map { i =>
      val (_, s, e) = commits(i)
      val next = if (i + 1 < commits.size) subs(i + 1) else ms1
      val ready = fg.filter(j => j.endMs > s && j.endMs <= next).map(_.endMs).maxOption.getOrElse(s)
      math.max(0L, math.min(e, next) - math.max(ready, s))
    }.sum
    // figures of the traced call's rounds only; the resume has already
    // written round rounds + 1
    val latest = shape.rounds
    val metrics = (1 to latest).map(plain.metricsOf)
    def m(k: String) = metrics.map(_.getOrElse(k, 0L)).sum.toDouble
    val written = Fs.files(dir).filter { p =>
      val rel = dir.relativize(p)
      rel.getNameCount >= 3 && rel.getName(1).toString.matches("r\\d{6}") &&
        (1 to latest).contains(rel.getName(1).toString.drop(1).toInt)
    }
    // the sketch path of the last round, re-run on its committed inputs
    val prevSketch = plain.load(spark, "url_seen", Some(latest - 1)).get
    val lastDelta = spark.read.parquet(dir.resolve("url_seen_exact").resolve(f"r$latest%06d").toString)
    val t0 = System.nanoTime()
    Crawl.mergeSketches(prevSketch, Crawl.buildSketchDelta(spark, lastDelta, cfg))
      .write.format("noop").mode("overwrite").save()
    val buildS = secs(t0)
    val stateBytes = plain.load(spark, "url_seen", Some(latest)).get
      .select(sum(length(col("sketch")))).head().getLong(0).toDouble
    val discovered = results.map(_.discovered).sum.toDouble
    Map(
      "crawl.round_s" -> (subs.last - ms0) / r / 1000,
      "crawl.fg_task_s" -> fg.map(_.taskMs).sum / r / 1000,
      "crawl.fg_jobs" -> fg.size / r,
      "crawl.hop_task_s" -> fg.filter(_.callSite.contains("Crawl$.hop")).map(_.taskMs).sum / r / 1000,
      "crawl.driver_idle_s" -> Trace.idleMs(jobs, ms0, ms1) / r / 1000,
      "crawl.dedup_yield" -> results.map(_.enqueued).sum / math.max(1.0, discovered),
      "crawl.fetched" -> results.map(_.fetched).sum.toDouble,
      "crawl.discovered" -> discovered,
      "catalog.commit_s" -> commits.map(c => c._3 - c._2).sum / r / 1000,
      "catalog.commit_task_s" -> cm.map(_.taskMs).sum / r / 1000,
      "catalog.barrier_wait_s" -> barrierMs / r / 1000,
      "catalog.bytes_written" -> written.map(Files.size).sum / r,
      "catalog.files" -> written.size / r,
      "sketch.fpr" -> (m("enqueued") - m("deduped_bloom_definite")) /
        math.max(1.0, m("discovered") - m("deduped_exact")),
      "sketch.state_bytes" -> stateBytes,
      "sketch.build_s" -> buildS) ++ Layers.engine(jobs)
  }

  /** Single-thread timings of the parse, URL and bloom kernels over a
    * sample of the workload's own pages. */
  private def micro(u: FixtureGen.Universe, seed: Long): Map[String, Double] = {
    val ids = (0 until 400).map(i => (FixtureGen.splitmix64(seed ^ (i + 1)) >>> 1) % u.nPages)
    val urls = ids.map(u.canonUrl).toArray
    val pages = ids.map(p => u.html(p).getBytes(UTF_8)).toArray
    var sink = 0L
    val parseNs = Trace.nsPerCall(pages.length) { i =>
      sink += Html.extractAll(pages(i), urls(i))._2.length
    }
    val refs = ids.zipWithIndex.flatMap { case (p, i) =>
      (0 until u.nOutlinks(p)).map(j => (urls(i), u.outlink(p, j)))
    }.toArray
    val resolveNs = Trace.nsPerCall(refs.length) { i =>
      val s = UrlCanon.resolve(refs(i)._1, refs(i)._2); if (s != null) sink += s.length
    }
    val raws = refs.flatMap { case (b, r) => Option(UrlCanon.resolve(b, r)) }
    val canonNs = Trace.nsPerCall(raws.length) { i =>
      val s = UrlCanon.canonicalize(raws(i)); if (s != null) sink += s.length
    }
    val n = 1 << 16
    val keys = Array.tabulate(n)(i => FixtureGen.splitmix64(seed * 31 + i))
    val bloom = BloomFilter.create(n.toLong, 0.01)
    val insertNs = Trace.nsPerCall(n)(i => bloom.insert(keys(i)))
    // half the probes hit inserted keys, half miss
    val probeNs = Trace.nsPerCall(2 * n) { i =>
      if (bloom.mightContain(if (i % 2 == 0) keys(i / 2) else ~keys(i / 2))) sink += 1
    }
    if (sink == 42) System.err.println("") // keeps the results live
    val avgBytes = pages.map(_.length.toDouble).sum / pages.length
    Map(
      "html.parse_us_per_page" -> parseNs / 1000,
      "html.parse_mb_per_s" -> avgBytes / parseNs * 1e3,
      "urls.canon_ns" -> canonNs,
      "urls.resolve_ns" -> resolveNs,
      "sketch.insert_ns" -> insertNs,
      "sketch.probe_ns" -> probeNs)
  }
}
