package graft

/**
 * Diagnostic: time individual SparkEntry queries (noop sink, same
 * evaluation discipline as [[Bench]]) without paying for the full bench.
 *
 * Usage: `sbt "runMain graft.QProbe <sfDir> <queryName>..."`; repeats each
 * query `GRAFT_PROBE_ITERS` times (default 1).
 */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q26_ngram_jaccard")
    val iters = sys.env.getOrElse("GRAFT_PROBE_ITERS", "1").toInt
    val spark = Bench.session(Bench.hostCpus)
    val explain = sys.env.get("GRAFT_PROBE_EXPLAIN").contains("1")
    for (name <- names; i <- 1 to iters) {
      if (explain && i == 1) {
        // untimed extra build: eager builders re-do their work in the timed
        // run below (fresh temp dirs / fresh frames), so this only costs time
        println(s"[qprobe] ==== $name plan ====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      // the BUILDER runs inside the timed window, exactly like Bench's loop:
      // several queries do eager work while building (q34's crawl rounds,
      // q54's pinned curate stages, q52's CC iterations, q61's k-means
      // collects) — timing only the final write hid all of it (measured:
      // q34 "0.45s" in the old probe vs its real 9-10s bench wall)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[qprobe] $name#$i ${(System.nanoTime() - t0) / 1e9}%.2fs")
      // bench discipline between measurements: no cache carry-over
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
