package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.crawl.FixtureGen
import graft.crawl.FixtureGen.splitmix64
import graft.functions.UrlExpressions.{host_rev, url_host}

/** One synthetic document of the curation corpus (the sf0.1 `documents` shape). */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** One synthetic embedding (the sf0.1 `embeddings` shape: 64-d unit vectors, 10 labels). */
final case class VecRow(vec_id: Long, embedding: Array[Float], label: Int)

/**
 * Seeded input generator. Every input is written to files before any timing
 * starts, and cached by its full parameter set: a marker holding the
 * parameters is written last, so a directory left half-written by a killed
 * run is regenerated instead of reused.
 */
object Gen {

  /** Runs `write(dir)` unless `dir` already holds a complete copy for `params`. */
  def cached(dir: Path, params: String)(write: Path => Unit): Path = {
    val marker = dir.resolve("_marker.json")
    val ok = Files.exists(marker) && new String(Files.readAllBytes(marker), UTF_8) == params
    if (!ok) {
      Fs.deleteRecursively(dir)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      write(dir)
      System.err.println(f"[perfbench] generated $dir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      Files.write(marker, params.getBytes(UTF_8))
    }
    dir
  }

  /** `FixtureGen.write`'s corpus layout for a universe of any seed
    * (`FixtureGen.write` itself always builds seed 42): pages hash-partitioned
    * by host and sorted by reversed host within partitions, robots bodies,
    * and the seed list. */
  def crawlCorpus(spark: SparkSession, dir: Path, u: FixtureGen.Universe,
      nSeeds: Int, parts: Int): Unit = {
    import spark.implicits._
    val pages = spark.range(u.nPages).map(p => u.pageRow(p))
    val v2 = spark.range(u.nPages).filter(p => u.hasSecondVersion(p)).map(p => u.pageRowV2(p))
    pages.unionByName(v2).toDF()
      .withColumn("__host", url_host(col("url")))
      .repartition(parts, pmod(xxhash64(col("__host")), lit(parts)))
      .sortWithinPartitions(host_rev(col("__host")))
      .drop("__host")
      .select("url", "warc_ts", "text", "lang", "html")
      .write.mode("overwrite").parquet(dir.resolve("pages.parquet").toString)
    val robots = (0 until u.nHosts).flatMap(i => u.robotsBody(i).map(b => (u.host(i), b)))
    robots.toDF("host", "robots_body").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("robots.parquet").toString)
    Files.write(dir.resolve("seeds.txt"), u.seeds(nSeeds).mkString("\n").getBytes(UTF_8))
  }

  def readSeeds(dir: Path): Seq[String] =
    new String(Files.readAllBytes(dir.resolve("seeds.txt")), UTF_8).split("\n").toSeq

  // ---- curation corpus --------------------------------------------------

  private val vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  private def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Share of rows that are exact copies / near copies of an original. */
  val ExactDupShare = 0.10
  val NearDupShare = 0.10

  /** Where row `i` comes from: (kind, original) with kind 0 = original,
    * 1 = exact copy, 2 = near copy. Copies point at an original drawn from
    * the whole id range, so groups span partitions. */
  def provenance(seed: Long, salt: Long, i: Long, n: Long): (Int, Long) = {
    val h = splitmix64(seed ^ (salt * 0x9E3779B97F4A7C15L) ^ (i * 0x2545F4914F6CDD1DL))
    val u = unit(h)
    def original: Long = {
      var j = (splitmix64(h) >>> 1) % n
      // walk to the nearest original so copies never chain
      var k = 0
      while (k < 64 && provenanceKind(seed, salt, j) != 0) { j = (j + 1) % n; k += 1 }
      j
    }
    if (u < ExactDupShare) (1, original)
    else if (u < ExactDupShare + NearDupShare) (2, original)
    else (0, i)
  }

  private def provenanceKind(seed: Long, salt: Long, i: Long): Int = {
    val u = unit(splitmix64(seed ^ (salt * 0x9E3779B97F4A7C15L) ^ (i * 0x2545F4914F6CDD1DL)))
    if (u < ExactDupShare) 1 else if (u < ExactDupShare + NearDupShare) 2 else 0
  }

  /** Words of original document `i`: 10 to 100 words drawn uniformly from a
    * 30-word vocabulary, as in sf0.1 `documents`. */
  def originalWords(seed: Long, i: Long): Array[String] = {
    val h = splitmix64(seed ^ 0xD0C5L ^ (i * 0x9E3779B97F4A7C15L))
    val n = 10 + (h >>> 33).toInt % 91
    Array.tabulate(n)(j => vocab(((splitmix64(h + j) >>> 17) % vocab.length).toInt))
  }

  def docRow(seed: Long, i: Long, n: Long): DocRow = {
    val (kind, orig) = provenance(seed, 1L, i, n)
    val words = originalWords(seed, orig)
    if (kind == 2) {
      // near copy: one word in ~25 replaced — word-3-gram Jaccard stays well
      // above the curation default of 0.5
      val h = splitmix64(seed ^ 0xEA5L ^ i)
      var j = (h & 15L).toInt
      while (j < words.length) {
        words(j) = vocab(((splitmix64(h + j) >>> 7) % vocab.length).toInt)
        j += 25
      }
    }
    val text = words.mkString(" ")
    val hl = splitmix64(seed ^ 0x1A6L ^ i)
    DocRow(i, text, langs(((hl >>> 3) % langs.length).toInt), "src" + (i % 20), text.length.toLong)
  }

  private def gaussian(h: Long): Double = {
    val u1 = math.max(unit(h), 1e-12); val u2 = unit(splitmix64(h))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  val Dim = 64
  val Labels = 10

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Original vector `i`: its label's centre plus isotropic noise, unit
    * length. Same-cluster cosines sit around 0.4, so only copies reach the
    * semantic-dedup threshold. */
  def originalVector(seed: Long, i: Long): (Array[Double], Int) = {
    val label = ((splitmix64(seed ^ 0x1ABE1L ^ (i * 31)) >>> 5) % Labels).toInt
    val centre = normalize(Array.tabulate(Dim)(d => gaussian(splitmix64(seed ^ 0xCE7L ^ (label * 1000L + d)))))
    val v = Array.tabulate(Dim)(d => centre(d) + 0.15 * gaussian(splitmix64(seed ^ 0xF00L ^ (i * 131 + d))))
    (v, label)
  }

  def vecRow(seed: Long, i: Long, n: Long): VecRow = {
    val (kind, orig) = provenance(seed, 2L, i, n)
    val (v, label) = originalVector(seed, orig)
    val vv =
      if (kind == 2) {
        val nv = normalize(v)
        Array.tabulate(Dim)(d => nv(d) + 0.02 * gaussian(splitmix64(seed ^ 0xBEEL ^ (i * 131 + d))))
      } else v
    VecRow(i, normalize(vv), label)
  }

  /** sf0.1-shaped `documents` and `embeddings`, `nDocs` and `nVecs` rows,
    * with seed-chosen exact and near copies mixed in. */
  def curateCorpus(spark: SparkSession, dir: Path, seed: Long, nDocs: Long, nVecs: Long,
      parts: Int): Unit = {
    import spark.implicits._
    spark.range(0, nDocs, 1, parts).map(i => docRow(seed, i, nDocs))
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    spark.range(0, nVecs, 1, parts).map(i => vecRow(seed, i, nVecs))
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }
}
