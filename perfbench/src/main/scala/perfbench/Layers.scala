package perfbench

/** The per-layer metrics the traced run reports, with their units. A
  * workload that does not run a layer reports that layer's metrics as 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "crawl.round_s" -> "s",
    "crawl.fg_task_s" -> "s",
    "crawl.fg_jobs" -> "count",
    "crawl.hop_task_s" -> "s",
    "crawl.driver_idle_s" -> "s",
    "crawl.dedup_yield" -> "ratio",
    "crawl.fetched" -> "count",
    "crawl.discovered" -> "count",
    "catalog.commit_s" -> "s",
    "catalog.commit_task_s" -> "s",
    "catalog.barrier_wait_s" -> "s",
    "catalog.bytes_written" -> "bytes",
    "catalog.files" -> "count",
    "catalog.load_s" -> "s",
    "catalog.chain_len" -> "count",
    "sketch.fpr" -> "ratio",
    "sketch.state_bytes" -> "bytes",
    "sketch.build_s" -> "s",
    "sketch.probe_ns" -> "ns",
    "sketch.insert_ns" -> "ns",
    "html.parse_us_per_page" -> "us",
    "html.parse_mb_per_s" -> "MB/s",
    "urls.canon_ns" -> "ns",
    "urls.resolve_ns" -> "ns",
    "text.annotate_s" -> "s",
    "text.annotate_rows" -> "count",
    "dedup.exact_s" -> "s",
    "dedup.exact_rows_out" -> "count",
    "dedup.minhash_s" -> "s",
    "dedup.lsh_yield" -> "ratio",
    "dedup.clusters_s" -> "s",
    "operators.curate_rows_out" -> "count",
    "operators.curate_pin_s" -> "s",
    "operators.curate_dupclusters_s" -> "s",
    "sim.kmeans_s" -> "s",
    "sim.pairscan_s" -> "s",
    "sim.driver_idle_s" -> "s",
    "sim.jobs" -> "count",
    "spark.gc_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.tasks" -> "count",
    "trace.overhead_pct" -> "%",
    "error_rate" -> "ratio")

  private val unitOf = units.toMap

  def unit(name: String): String = unitOf(name)

  /** Engine-wide totals over `jobs`. */
  def engine(jobs: Seq[JobSpan]): Map[String, Double] = Map(
    "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
    "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
    "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
    "spark.tasks" -> jobs.map(_.tasks).sum.toDouble)

  /** Reports 0 for every layer metric the workload did not measure. */
  def fillAbsent(rec: Recorder): Unit = units.foreach { case (k, u) =>
    if (k != "error_rate" && !rec.metrics.contains(k)) rec.put(k, 0.0, u)
  }
}
