package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DupClusters}
import graft.operators.{CurateConfig, CuratePipeline, StratifiedSample}
import graft.sim.Similarity
import graft.text.TextAnalysis

import Main.secs

/** Size of the curation workload: documents for `curate`, vectors and
  * k-means settings for `semDedup`. */
final case class CurateShape(docs: Long, vecs: Long, k: Int, iters: Int, threshold: Double,
    parts: Int)

/**
 * Curation workload. Per iteration: pin the documents and vectors read from
 * their parquet files (set-up, twice), time `CuratePipeline.curate`
 * collected, time `Similarity.semDedup` collected, check both outputs, and release every cached frame. A run makes
 * one iteration at this size (three when traced).
 */
object CurateBench {
  /** sf0.1's documents and embeddings grown to 6k and 12k rows; about 120
    * vectors per k-means cell. */
  val Corpus = CurateShape(docs = 6000, vecs = 12000, k = 100, iters = 3, threshold = 0.9,
    parts = 4)

  def run(o: Opts, shape: CurateShape, cpus: Int, rec: Recorder): Unit = {
    val spark = graft.Bench.session(cpus, shape.parts)
    val params = s"""{"gen":"curate-v1","docs":${shape.docs},"vecs":${shape.vecs},""" +
      s""""parts":${shape.parts},"seed":${o.seed}}"""
    val key = s"curate_${shape.docs}_${shape.vecs}_${shape.parts}_${o.seed}"
    val corpus = Gen.cached(o.work.resolve("inputs").resolve(key), params) { d =>
      Gen.curateCorpus(spark, d, o.seed, shape.docs, shape.vecs, shape.parts)
    }
    val semKey = s"${key}_k${shape.k}_i${shape.iters}_t${shape.threshold}"
    val docsPath = corpus.resolve("documents.parquet").toString
    val vecsPath = corpus.resolve("embeddings.parquet").toString
    val texts: Map[Long, String] = spark.read.parquet(docsPath).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecKeys: Map[Long, String] = spark.read.parquet(vecsPath).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).mkString(",")).toMap

    val setupS = ArrayBuffer[Double]()
    val itemsPerS = ArrayBuffer[Double]()
    val semS = ArrayBuffer[Double]()
    val tracedItemsPerS = ArrayBuffer[Double]()
    val untracedItemsPerS = ArrayBuffer[Double]()
    val layers = ArrayBuffer[Map[String, Double]]()
    def iteration(i: Int): Unit = {
      val traced = o.trace && i == Main.TracedIteration
      def pin(): (DataFrame, DataFrame) = {
        val t0 = System.nanoTime()
        val docs = spark.read.parquet(docsPath).persist()
        docs.count()
        val vecs = spark.read.parquet(vecsPath).persist()
        vecs.count()
        setupS += secs(t0)
        (docs, vecs)
      }
      // two set-up samples per iteration; the first is released again
      rec.op("setup") {
        val (d, v) = pin()
        d.unpersist(blocking = true); v.unpersist(blocking = true)
      }
      rec.op("setup")(pin()).foreach { case (docs, vecs) =>
        val l = new JobListener
        def maybeTraced[T](body: => T): T =
          if (traced) Trace.withListener(spark.sparkContext, l)(body) else body
        val curated = rec.op("curate") {
          val ms0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val out = maybeTraced(CuratePipeline.curate(docs).collect())
          val wall = secs(t0)
          val ms1 = System.currentTimeMillis()
          Checks.require(Checks.curate(out, texts) ++
            Checks.repeats(o.counts.resolve(s"${key}_curate.txt"), out.length.toString))
          val perS = shape.docs / wall
          if (traced) tracedItemsPerS += perS
          else { untracedItemsPerS += perS; itemsPerS += perS }
          System.err.println(f"[perfbench] curate $i: kept ${out.length} of ${shape.docs} docs " +
            f"in $wall%.3fs, traced=$traced")
          (out.map(_.getAs[Long]("doc_id")).toSet, ms0, ms1)
        }
        val sem = rec.op("semdedup") {
          val ms0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val out = maybeTraced(
            Similarity.semDedup(vecs, shape.k, shape.iters, shape.threshold).collect())
          val wall = secs(t0)
          val ms1 = System.currentTimeMillis()
          Checks.require(Checks.semDedup(out, vecKeys, shape.k) ++
            Checks.repeats(o.counts.resolve(s"${semKey}_semdedup.txt"), out.length.toString))
          if (!traced) semS += wall
          System.err.println(f"[perfbench] semDedup $i: kept ${out.length} of ${shape.vecs} vectors " +
            f"in $wall%.3fs, traced=$traced")
          (wall, ms0, ms1)
        }
        if (traced) for ((kept, curMs0, curMs1) <- curated; (semWall, semMs0, semMs1) <- sem) {
          val curJobs = l.jobsBetween(curMs0, curMs1)
          val semJobs = l.jobsBetween(semMs0, semMs1)
          spark.catalog.clearCache() // the stage-by-stage pass starts cache-clean too
          docs.persist(); docs.count(); vecs.persist(); vecs.count()
          rec.op("curate stages") {
            val (st, stageKept) = stages(docs)
            // the stages restate curate's composition; a drift from the
            // program fails the traced run instead of timing something else
            if (stageKept != kept)
              throw new CheckFailed(s"curate's stages one by one keep ${stageKept.size} documents, " +
                s"curate keeps ${kept.size}: the restated staging no longer matches CuratePipeline.curate")
            st
          }.foreach { st =>
            val t0 = System.nanoTime()
            Similarity.kmeansFit(vecs, shape.k, shape.iters)._2.write.format("noop").mode("overwrite").save()
            val kmeansS = secs(t0)
            layers += st ++ curatePhases(curJobs) ++ Layers.engine(l.jobsBetween(0L, Long.MaxValue)) ++ Map(
              "operators.curate_rows_out" -> kept.size.toDouble,
              "sim.kmeans_s" -> kmeansS,
              "sim.pairscan_s" -> math.max(0.0, semWall - kmeansS),
              "sim.driver_idle_s" -> Trace.idleMs(semJobs, semMs0, semMs1) / 1000.0,
              "sim.jobs" -> semJobs.size.toDouble)
          }
        }
      }
      spark.catalog.clearCache()
    }

    Main.measure(o.seconds, if (o.trace) 3 else 1)(iteration)

    if (!o.trace) {
      rec.put("setup_s", Stats.median(setupS.toSeq), "s")
      rec.put("items_per_s", Stats.median(itemsPerS.toSeq), "1/s")
      rec.put("followup_s", Stats.median(semS.toSeq), "s")
    } else {
      val keys = layers.headOption.map(_.keys.toSeq).getOrElse(Nil)
      keys.foreach(k => rec.put(k, Stats.median(layers.map(_(k)).toSeq), Layers.unit(k)))
      rec.put("trace.overhead_pct", Main.overheadPct(tracedItemsPerS.toSeq, untracedItemsPerS.toSeq), "%")
      Layers.fillAbsent(rec)
    }
  }

  /** Wall time of the traced `curate` call's own jobs, split by the program
    * frame that started them: `curate` forces its pinned annotate, gate and
    * exact-dedup frame itself, and `DupClusters` forces the clustering, into
    * which the near-duplicate pairs are computed lazily. */
  def curatePhases(jobs: Seq[JobSpan]): Map[String, Double] = {
    def wallS(js: Seq[JobSpan]) = Trace.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0
    val (clusters, rest) = jobs.partition(_.callSite.contains("graft.dedup."))
    Map(
      "operators.curate_pin_s" -> wallS(rest.filter(_.callSite.contains("CuratePipeline$.curate"))),
      "operators.curate_dupclusters_s" -> wallS(clusters))
  }

  /** `CuratePipeline.curate`'s stages called one by one through the public
    * operators it composes, each forced and timed on its own. Its annotate
    * step is private, so the staging is restated here; the caller checks
    * that the restatement keeps the same documents as `curate`. Returns the
    * stage metrics and the surviving doc ids. */
  def stages(docs: DataFrame, cfg: CurateConfig = CurateConfig()): (Map[String, Double], Set[Long]) = {
    def forced(df: DataFrame): (DataFrame, Long, Double) = {
      val t0 = System.nanoTime()
      val p = df.persist()
      val n = p.count()
      (p, n, secs(t0))
    }
    val langs = TextAnalysis.langMarkers.map(_._1)
    val markers = TextAnalysis.langMarkers.flatMap { case (_, ws) => ws.map(w => s" $w ") }.toArray
    val nPerLang = TextAnalysis.langMarkers.head._2.size
    val annotated = docs
      .withColumn("__mk", TextAnalysis.markerCountsUdf(markers)(col("text")))
      .select(col("*") +: langs.zipWithIndex.map { case (l, i) =>
        (0 until nPerLang).map(j => element_at(col("__mk"), i * nPerLang + j + 1))
          .reduce(_ + _).as(s"__s_$l")
      }: _*)
      .withColumn("lang_id", TextAnalysis.langIdFromScores(langs.map(l => l -> col(s"__s_$l"))))
      .drop("__mk" +: langs.map(l => s"__s_$l"): _*)
      .withColumn("__qp", TextAnalysis.quality_prims_udf(col("text")))
      .withColumn("quality", TextAnalysis.qualityScoreFromPrims(col("__qp")))
      .drop("__qp")
      .withColumn("rp", TextAnalysis.repetition_prims_udf(col("text")))
    def repFrac(c: Int, d: Int) =
      element_at(col("rp"), c).cast("double") / greatest(element_at(col("rp"), d), lit(1L))
    val (gated, nGated, annotateS) = forced(annotated.filter(
      (lit(!cfg.dropUnknownLang) || col("lang_id") =!= "und") &&
        col("quality") >= cfg.minQuality &&
        repFrac(2, 1) <= cfg.maxTopUnigramFrac &&
        repFrac(5, 3) <= cfg.maxDupBigramFrac))
    val keep = gated.groupBy(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val (exact, nExact, exactS) = forced(gated.join(keep, Seq("doc_id"), "left_semi"))
    val (pairs, nPairs, minhashS) = forced(Dedup.minhashNearDupPairs(
      exact, cfg.minhashK, cfg.minhashBands, cfg.minJaccard, kernel = cfg.kernels))
    val nCands = Dedup.lshCandidatePairs(
      Dedup.minhashSignaturesKernel(exact, cfg.minhashK),
      cfg.minhashBands, cfg.minhashK / cfg.minhashBands).count()
    val (survivors, _, clustersS) = forced(DupClusters.dedupByPairs(exact, pairs))
    val kept = StratifiedSample.hashSplit(survivors, col("doc_id"), cfg.splits, cfg.splitSeed)
      .select(col("doc_id"), col("lang_id"), col("quality"), col("split"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    (Map(
      "text.annotate_s" -> annotateS,
      "text.annotate_rows" -> nGated.toDouble,
      "dedup.exact_s" -> exactS,
      "dedup.exact_rows_out" -> nExact.toDouble,
      "dedup.minhash_s" -> minhashS,
      "dedup.lsh_yield" -> nPairs / math.max(1.0, nCands.toDouble),
      "dedup.clusters_s" -> clustersS), kept)
  }
}
