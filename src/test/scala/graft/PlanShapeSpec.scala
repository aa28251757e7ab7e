package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UrlExpressions

/**
 * Physical-plan shape assertions (SURVEY.md §4.1): the optimizations the
 * 100 TB story depends on must actually fire — predicate pushdown to the
 * parquet scan, binary-column pruning, broadcast joins for small dims,
 * partial aggregation, and whole-stage codegen over our native expressions.
 * These are `explain`-string checks on purpose: a silent regression (e.g. a
 * UDF slipping into a filter and killing pushdown) should fail a test, not
 * a profile run three rounds later.
 */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val pagesDir: String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "planshape").toString
    (0L until 50L).map(i =>
        (s"https://h$i.com/p$i", new java.sql.Timestamp(1767225600000L + i),
          s"<html>x$i</html>".getBytes, s"x$i", "en", i % 7))
      .toDF("url", "warc_ts", "html", "text", "lang", "depth")
      .write.mode("overwrite").parquet(s"$dir/pages.parquet")
    dir
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: link-free pass never reads the html column") {
    val df = spark.read.parquet(s"$pagesDir/pages.parquet").select("url", "warc_ts", "lang")
    val scan = physical(df)
    assert(scan.contains("ReadSchema"), scan)
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("html"), s"html must be pruned from scan: $readSchema")
    assert(readSchema.contains("url"), readSchema)
  }

  test("predicate pushdown: depth cap and scheme prefix reach the scan") {
    val df = spark.read.parquet(s"$pagesDir/pages.parquet")
      .filter(col("depth") <= 3)
      .filter(col("url").startsWith("https://"))
    val scan = physical(df)
    assert(scan.contains("PushedFilters"), scan)
    val pushed = scan.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("LessThanOrEqual(depth,3)"), pushed)
    assert(pushed.contains("StringStartsWith(url,https://)"), pushed)
  }

  test("native expressions stay inside whole-stage codegen (no UDF boundary)") {
    val df = spark.read.parquet(s"$pagesDir/pages.parquet")
      .select(UrlExpressions.canonicalize_url(col("url")).as("c"),
        UrlExpressions.host_rev(UrlExpressions.url_host(col("url"))).as("hr"))
    val plan = physical(df)
    // '*(n)' prefixes mark whole-stage-codegen'd operators in toString form
    assert(plan.contains("*(1) Project"), plan)
    // a scala UDF would appear as a plain 'UDF(' marker — our expressions
    // render by prettyName inside the codegen'd Project
    assert(plan.contains("canonicalize_url"), plan)
    assert(!plan.contains("UDF("), s"canonicalize must not be a black-box UDF: $plan")
  }

  test("canonicalize_url is foldable: literal input constant-folds away") {
    val df = spark.range(1)
      .select(UrlExpressions.canonicalize_url(lit("HTTP://Ex.COM:80/a/../b")).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("http://ex.com/b"),
      s"literal canonicalization should constant-fold: $optimized")
  }

  test("small-dim join broadcasts; big-side aggregation is partial+final") {
    val big = spark.range(10000).select(col("id"), pmod(col("id"), lit(50)).as("k"))
    val dim = spark.range(50).select(col("id").as("k"), concat(lit("h"), col("id")).as("name"))
    val joined = big.join(broadcast(dim), Seq("k")).groupBy("name").count()
    val plan = physical(joined)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("HashAggregate"), plan)
    // partial aggregation = two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("global budget uses TakeOrderedAndProject, not a full sort") {
    val df = spark.read.parquet(s"$pagesDir/pages.parquet")
      .orderBy(col("depth"), col("url")).limit(10)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vector top-k is a bounded aggregate: no per-query window materialization") {
    import spark.implicits._
    val vecs = spark.range(200).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val out = graft.sim.Similarity.bruteForceTopK(vecs, vecs.limit(5), k = 3)
    val plan = physical(out)
    assert(!plan.contains("Window"),
      s"top-k must reduce through the bounded PQ aggregate, not a rank window: $plan")
    assert(plan.contains("Aggregate"), plan)
    // partial (map-side) aggregation present: per-task contribution ≤ k
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    // semantics unchanged vs the window formulation: rank = dense position
    val got = out.filter(col("query_id") === 0).orderBy("rank")
      .select("rank", "neighbor_id").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.length == 3 && got.map(_._1).sameElements(Array(1, 2, 3)), got.mkString(","))
  }

  test("globalSeq distributes: no single-partition window exchange") {
    val df = spark.range(1000).select(col("id"), pmod(col("id"), lit(97)).as("k"))
    val (ranked, sorted, _) = graft.operators.Ranks.globalCumsumCached(
      df, "seq", None, Seq(col("k").asc, col("id").asc), 8)
    try {
      // the plan must not contain a SinglePartition window (check before
      // consumption so the assertion sees the compute plan, not a cache scan)
      val plan = physical(ranked)
      assert(!plan.contains("Window"), s"globalSeq must not use a window: $plan")
      // correctness vs the single-partition semantic — RE-CONSUMED twice to
      // pin the explicit-pin contract: both reads see identical ranks while
      // the sorted intermediate stays persisted
      val expected = df.collect().map(r => (r.getLong(1), r.getLong(0)))
        .sortBy(identity).zipWithIndex
      (1 to 2).foreach { _ =>
        val rows = ranked.orderBy("seq").select("k", "id", "seq").collect()
        rows.zip(expected).foreach { case (r, ((k, id), i)) =>
          assert(r.getLong(0) == k && r.getLong(1) == id && r.getLong(2) == i.toLong)
        }
      }
    } finally sorted.unpersist()
  }

  test("fetch join consumes the corpus cache merge-ready: no per-round Sort or Exchange") {
    // The corpus is cached partitioned AND locally sorted on canon_url
    // (Crawl.openState) so the per-round sort-merge fetch join reads it
    // as-is. A Sort above the corpus-side InMemoryTableScan means every
    // round re-sorts the full page payloads — measured as the dominant
    // anti-scaling term at 480k pages (740 MB peak execution memory per
    // task at local[16]). This pins the InMemoryRelation ordering
    // propagation the fix relies on.
    val corpus = spark.range(500)
      .select(concat(lit("https://h"), pmod(col("id"), lit(40)), lit(".com/p"), col("id"))
        .as("canon_url"), col("id").as("payload"))
      .repartition(8, col("canon_url"))
      .sortWithinPartitions(col("canon_url"))
      .persist()
    corpus.count()
    try {
      val sched = spark.range(100)
        .select(concat(lit("https://h"), pmod(col("id"), lit(40)), lit(".com/p"), col("id"))
          .as("canon_url"))
      // hint("merge") pins the SMJ strategy the real (un-broadcastable) corpus
      // gets naturally; without it this 500-row fixture broadcasts.
      val joined = sched.join(corpus.hint("merge"), Seq("canon_url"), "left_outer")
      joined.count() // finalize AQE
      val fullPlan = joined.queryExecution.executedPlan.toString
      // everything after "InMemoryRelation" is the cached BUILD plan (which
      // legitimately contains the one-time Sort/Exchange); the consuming
      // round plan is what must stay sort- and exchange-free on the corpus side
      val plan = fullPlan.substring(0, fullPlan.indexOf("InMemoryRelation"))
      assert(fullPlan.contains("SortMergeJoin"), fullPlan)
      // exactly ONE Sort (the scheduled probe side); the cached corpus side
      // must contribute neither a Sort nor an Exchange
      val sorts = "(?m)^\\s*[:+]?[- ]*\\*?\\(?\\d*\\)?\\s*Sort ".r.findAllIn(plan).length
      assert(sorts == 1, s"corpus side must not re-sort (found $sorts Sorts): $fullPlan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"corpus side must stay exchange-free: $fullPlan")
    } finally corpus.unpersist()
  }

  test("ngram counts: staged tokens (one split), partial+final agg, TakeOrdered top-k") {
    val d = (1L to 200L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} common tail")).toDF("doc_id", "text")
    val df = graft.text.TextAnalysis.ngramCounts(d, col("text"), 2)
      .orderBy(col("cnt").desc, col("gram")).limit(20)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    // regression guard for the lambda-CSE pathology: the token split must be
    // STAGED (appear once), not inlined per element_at inside the gram
    // lambda (measured 13x on q64 before the fix)
    val splits = "split\\(".r.findAllIn(plan).length
    assert(splits <= 2, s"token split inlined $splits times — staging regressed: $plan")
  }

  test("blocklist match: the list broadcasts; the corpus side never shuffles") {
    val hosts = spark.range(1000).select(concat(lit("s"), pmod(col("id"), lit(5)),
      lit(".d"), pmod(col("id"), lit(30)), lit(".com")).as("host"))
    val bdf = Seq("d3.com", "s1.d7.com").toDF("domain")
    val plan = physical(graft.urls.Blocklist.matchBlocked(hosts, col("host"), bdf))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"prefix-match blocklist must not shuffle the corpus: $plan")
  }

  test("seq pack: no Window operator anywhere (two-phase prefix sum, not a global scan)") {
    val d = (1L to 200L).map(i => (i, Seq.fill((i % 9 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val (out, pin) = graft.operators.SeqPack.packManifest(d, seqLen = 16, numPartitions = 4)
    try {
      val plan = physical(out)
      assert(!plan.contains("Window"), s"packing must not plan a window: $plan")
      assert(!plan.contains("SinglePartition"),
        s"packing must not funnel through one partition: $plan")
    } finally pin.unpersist()
  }

  test("rare tokens: vocabulary joins as broadcast; per-doc tally is partial+final") {
    val d = (1L to 100L).map(i => (i, s"a b c w$i")).toDF("doc_id", "text")
    val plan = physical(
      graft.text.TextAnalysis.rareTokenStats(d, col("doc_id"), col("text"), 8))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }
}
