package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{Crawl, CrawlRound, StateCatalog}
import graft.sketch.SeenFilter

/**
 * Output checks that recompute each property from the committed tables or
 * the returned rows, instead of reading the program's own verdicts. Each
 * returns the descriptions of the properties that failed (empty = pass).
 */
object Checks {

  /** Throws [[CheckFailed]] when any check failed. */
  def require(problems: Seq[String]): Unit =
    if (problems.nonEmpty) throw new CheckFailed(problems.mkString("; "))

  /** Output counts must repeat exactly for one input: the first run records
    * them in `file`, every later run compares. `file` lives outside the
    * evictable input cache, so a regenerated input must reproduce them too. */
  def repeats(file: java.nio.file.Path, counts: String): Seq[String] = {
    if (!java.nio.file.Files.exists(file)) java.nio.file.Files.write(file, counts.getBytes(UTF_8))
    val expected = new String(java.nio.file.Files.readAllBytes(file), UTF_8)
    if (counts == expected) Nil else Seq(s"counts ($counts) differ from ($expected) for one seed")
  }

  /** Invariants of a committed crawl catalog. */
  def crawl(spark: SparkSession, catalog: StateCatalog, parts: Int): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val latest = catalog.latestRound.getOrElse(return Seq("catalog has no committed round"))
    val fetchLog = Crawl.fullFetchLog(spark, catalog).select("canon_url", "fetch_seq")
    val log = fetchLog.collect()
    val seqs = log.map(_.getLong(1)).sorted
    if (!seqs.sameElements(0L until seqs.length.toLong))
      bad += s"fetch_seq is not contiguous 0..${seqs.length - 1}"
    if (log.map(_.getString(0)).distinct.length != log.length)
      bad += "a canon_url was fetched twice"
    val frontier = catalog.load(spark, "frontier").get.select("canon_url")
    val seen = catalog.load(spark, "url_seen_exact").get.select("canon_url")
    if (frontier.join(fetchLog, Seq("canon_url"), "left_semi").count() != 0)
      bad += "frontier and fetch_log share a URL"
    if (fetchLog.select("canon_url").join(seen, Seq("canon_url"), "left_anti").count() != 0)
      bad += "a fetched URL is missing from url_seen_exact"
    if (frontier.join(seen, Seq("canon_url"), "left_anti").count() != 0)
      bad += "a frontier URL is missing from url_seen_exact"
    val sketches: Map[Int, SeenFilter] = catalog.load(spark, "url_seen").get
      .select("partition_id", "sketch").collect()
      .map(r => r.getInt(0) -> SeenFilter.deserialize(r.getAs[Array[Byte]](1))).toMap
    val falseNegatives = seen
      .select(CrawlRound.partitionIdOf(col("canon_url"), parts), xxhash64(col("canon_url")))
      .collect()
      .count(r => !sketches.get(r.getInt(0)).exists(_.mightContain(r.getLong(1))))
    if (falseNegatives != 0) bad += s"committed bloom misses $falseNegatives seen URLs"
    val mismatches = (1 to latest).map(r => catalog.metricsOf(r).getOrElse("text_mismatches", -1L))
    if (mismatches.exists(_ != 0L)) bad += s"text_mismatches per round: ${mismatches.mkString(",")}"
    bad.result()
  }

  /** The program's text normalization, restated: lower-case, collapse
    * whitespace runs, trim. */
  def normText(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** `curate` output rows (doc_id, lang_id, quality, split) against the input texts. */
  def curate(out: Array[Row], texts: Map[Long, String]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val ids = out.map(_.getAs[Long]("doc_id"))
    if (ids.distinct.length != ids.length) bad += "curate returned a doc_id twice"
    if (!ids.forall(texts.contains)) bad += "curate returned an id not in the input"
    val splits = out.map(_.getAs[String]("split")).toSet
    if (!splits.subsetOf(Set("train", "valid", "test"))) bad += s"unexpected splits $splits"
    val fps = ids.flatMap(texts.get).map(t => md5Hex(normText(t)))
    if (fps.distinct.length != fps.length) bad += "two survivors share md5(normText)"
    if (ids.isEmpty) bad += "curate kept no document"
    bad.result()
  }

  /** `semDedup` output rows (vec_id, cell): ids distinct, from the input,
    * cells in range, and no two survivors with identical embeddings. */
  def semDedup(out: Array[Row], vecKeys: Map[Long, String], k: Int): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val ids = out.map(_.getLong(0))
    if (ids.distinct.length != ids.length) bad += "semDedup returned a vec_id twice"
    if (!ids.forall(vecKeys.contains)) bad += "semDedup returned an id not in the input"
    if (!out.forall { r => val c = r.getInt(1); c >= 0 && c < k }) bad += "cell out of range"
    val keys = ids.flatMap(vecKeys.get)
    if (keys.distinct.length != keys.length) bad += "two survivors have identical embeddings"
    if (ids.isEmpty) bad += "semDedup kept no vector"
    bad.result()
  }
}
