package graft.crawl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Snapshot-table catalog (SURVEY.md §7.4). The engine only ever talks to
 * this trait; the sandbox has no Iceberg runtime, so [[HadoopSnapshotCatalog]]
 * implements the Iceberg *semantics the engine relies on*:
 *
 *   - atomic multi-table commit: all of a round's tables become visible
 *     together or not at all (manifest rename is the linearization point);
 *   - read-at-snapshot: loads resolve through the latest committed manifest,
 *     never by directory listing, so torn writes are invisible;
 *   - resumability: a fresh JVM reconstructs full state from the catalog
 *     directory alone.
 *
 * On a real cluster this trait maps 1:1 onto Iceberg:
 * `load` → `spark.read.table(...)` with `VERSION AS OF`, `commit` →
 * a multi-table transaction of `writeTo(...).overwritePartitions()`; the
 * manifest id becomes the Iceberg snapshot id.
 */
trait StateCatalog {
  /** Latest committed round number, if any commit exists. */
  def latestRound: Option[Int]
  /** Read `table` as of the latest commit ≤ `atRound` (default: latest). */
  def load(spark: SparkSession, table: String, atRound: Option[Int] = None): Option[DataFrame]
  /** Atomically publish a round's tables. Returns the snapshot id.
    * `metrics` is by-name and evaluated AFTER the table writes, before the
    * manifest rename — metric aggregates over frames the writes just
    * materialized read cache instead of forcing their own jobs.
    *
    * `tables` entries REPLACE the table (full snapshot); `appends` entries
    * publish only a delta — readers see prior data plus the delta (Iceberg
    * append snapshot). Append is the only sane shape for monotone-growing
    * state at the design point: a 10^10-row seen set must never be
    * rewritten to add one round's URLs. A later `tables` entry for the
    * same name resets the chain (that is how re-crawl eviction compacts).
    *
    * `abort` is polled before each table write starts and immediately
    * before the manifest rename: once it returns true the commit can no
    * longer publish (it throws instead) — the hook an owner that has
    * abandoned the commit (crawl-loop quiesce timeout) uses to guarantee no
    * late manifest appears after it observed the failure. Writes already
    * RUNNING when abort flips are stopped from outside via their Spark job
    * group ([[StateCatalog.commitJobGroup]]). */
  def commit(round: Int, tables: Map[String, DataFrame],
      metrics: => Map[String, Long] = Map.empty,
      appends: Map[String, DataFrame] = Map.empty,
      abort: () => Boolean = () => false): String
  /** Metrics map of a committed round (lineage accounting). */
  def metricsOf(round: Int): Map[String, Long]

  // --- maintenance (Iceberg: rewriteDataFiles / expireSnapshots /
  // removeOrphanFiles). Run these QUIESCED (between crawls) — they assume
  // no commit is in flight, the same contract Iceberg maintenance actions
  // have. Default no-ops so wrapper/test catalogs stay source-compatible.

  /** Fold `table`'s append-delta chain (as of the latest snapshot) into one
    * base file set and republish the latest manifest with the 1-element
    * chain — a metadata-only swap: round numbering, sibling tables and
    * metrics are untouched, and readers holding older manifests keep their
    * snapshot because nothing is deleted (that is [[vacuumOrphans]]' job,
    * gated on reference counting). A 10^10-row seen set accumulates one
    * delta per round; without periodic folding every cold resume re-reads
    * an O(rounds)-file chain. Returns the number of chain links folded
    * (0 = already compact). */
  def compactTable(spark: SparkSession, table: String): Int = 0

  /** Drop per-round history BEFORE `keepFrom`: the `keepFrom` manifest is
    * squashed to carry the RESOLVED chain of every table visible at that
    * round (so loads and resume behave identically at and after the
    * horizon), then older manifests are deleted. Time-travel and per-round
    * metrics before the horizon are forfeited — the trade expiry always
    * makes. Returns the expired round numbers. */
  def expireSnapshots(keepFrom: Int): Seq[Int] = Seq.empty

  /** Delete data directories referenced by NO remaining manifest (run after
    * [[compactTable]]/[[expireSnapshots]] have unreferenced them). Returns
    * the deleted relpaths. */
  def vacuumOrphans(): Seq[String] = Seq.empty
}

final class HadoopSnapshotCatalog(rootDir: String) extends StateCatalog {
  private val root: Path = Paths.get(rootDir)
  private val manifestDir: Path = root.resolve("_manifests")
  Files.createDirectories(manifestDir)

  /** The schema sidecar inside every data directory. Spark's file index
    * skips `_`-prefixed names, so readers of the directory see only the
    * parquet files; the manifest's flat parser could not hold the schema's
    * quoted JSON. */
  private val SchemaFile = "_schema.json"

  private def manifestPath(round: Int): Path = manifestDir.resolve(f"manifest_$round%06d.json")

  override def latestRound: Option[Int] = {
    if (!Files.isDirectory(manifestDir)) return None
    val rounds = Files.list(manifestDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest_") && s.endsWith(".json") =>
        s.stripPrefix("manifest_").stripSuffix(".json").toInt }
      .toSeq
    if (rounds.isEmpty) None else Some(rounds.max)
  }

  private def readManifest(round: Int): Map[String, String] = {
    val txt = new String(Files.readAllBytes(manifestPath(round)), StandardCharsets.UTF_8)
    // flat {"k":"v",...} parser — manifests are written by `commit` below and
    // contain no nesting or escapes beyond what q() produces
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  override def load(spark: SparkSession, table: String, atRound: Option[Int]): Option[DataFrame] = {
    val upTo = atRound.orElse(latestRound).getOrElse(return None)
    relsOf(table, upTo).map(read(spark, _))
  }

  /** Reads a relpath chain with the schema its first directory recorded at
    * write time ([[writeDir]]), so the read starts no schema-inference job.
    * Every directory of a chain holds the same table, and every directory
    * this catalog reads was written by [[writeDir]]. */
  private def read(spark: SparkSession, chain: String): DataFrame = {
    val dirs = chain.split(',').map(root.resolve).toIndexedSeq
    val schema = DataType.fromJson(new String(
      Files.readAllBytes(dirs.head.resolve(SchemaFile)), StandardCharsets.UTF_8))
    spark.read.schema(schema.asInstanceOf[StructType]).parquet(dirs.map(_.toString): _*)
  }

  /** Writes `df` as the data directory `rel`: parquet into `rel.tmp` plus
    * the writer's schema as [[SchemaFile]], then an
    * atomic rename that replaces an earlier directory of that name (an
    * idempotent re-commit of the same round). */
  private def writeDir(df: DataFrame, rel: String): Unit = {
    val tmp = root.resolve(rel + ".tmp")
    val fin = root.resolve(rel)
    df.write.mode("overwrite").parquet(tmp.toString)
    Files.write(tmp.resolve(SchemaFile),
      df.schema.json.getBytes(StandardCharsets.UTF_8))
    if (Files.exists(fin)) deleteRecursively(fin)
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Relpath chain for `table` as of the newest manifest ≤ `upTo` that
    * mentions it (comma-separated when the table has append deltas); a
    * manifest that did not rewrite the table is walked past. */
  private def relsOf(table: String, upTo: Int): Option[String] = {
    var r = upTo
    while (r >= 0) {
      if (Files.exists(manifestPath(r))) {
        readManifest(r).get(s"table.$table") match {
          case Some(rel) => return Some(rel)
          case None =>
        }
      }
      r -= 1
    }
    None
  }

  override def commit(round: Int, tables: Map[String, DataFrame],
      metrics: => Map[String, Long], appends: Map[String, DataFrame],
      abort: () => Boolean): String = {
    // Write the round's tables as CONCURRENT Spark jobs: they are
    // independent dataflows into separate dirs, and the scheduler fills
    // idle task slots across jobs — serializing them would add one full
    // job-latency per table to every round (measured: the per-round serial
    // floor, not compute, bounded crawl throughput). Atomicity is unchanged:
    // all renames happen before the manifest write, which remains the
    // single linearization point.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success, Try}
    implicit val ec: ExecutionContext = StateCatalog.commitEc
    // Every per-table future is Try-wrapped and ALL are awaited before any
    // rethrow: a fail-fast Await.result would leave sibling writes running
    // detached — they could still rename final dirs for the aborted round,
    // and an in-process retry of the round would race them on the same .tmp
    // path. Settling first means no write of a failed commit is in flight
    // when the caller sees the exception.
    val work = tables.toSeq.map { case (n, df) => (n, df, false) } ++
      appends.toSeq.map { case (n, df) => (n, df, true) }
    val settled = Await.result(Future.traverse(work) { case (name, df, isAppend) =>
      Future {
        Try {
          // an aborted commit must not START new writes (the queued-future
          // tail of an abandonment; running writes are cancelled from
          // outside via the job group below)
          if (abort()) throw new IllegalStateException(
            s"commit r$round aborted by caller before writing $name")
          val rel = f"$name/r$round%06d"
          val t0 = System.nanoTime()
          // every job of this write is tagged with the round's commit group
          // so an abandoning owner can cancel RUNNING writes (freeing this
          // shared pool's thread — a wedged write must not leak it) instead
          // of only interrupting its own orchestrator thread. Cleared in the
          // finally: the pool thread is reused by later commits.
          val sc = df.sparkSession.sparkContext
          sc.setJobGroup(StateCatalog.commitJobGroup(round),
            s"graft commit r$round: $name", interruptOnCancel = true)
          try writeDir(df, rel) finally sc.clearJobGroup()
          if (sys.env.contains("GRAFT_CRAWL_TIMING")) System.err.println(
            f"[commit] r$round $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
          // append: the manifest entry carries the full relpath chain
          // (anchored at the chain read as of round-1, so an idempotent
          // re-commit of this round rebuilds the same chain), and load()
          // plus the walk-back stay oblivious to delta vs full snapshots
          val chain = if (isAppend)
            relsOf(name, round - 1).map(_ + "," + rel).getOrElse(rel)
          else rel
          s"table.$name" -> chain
        }
      }
    }, Duration.Inf)
    val failures = settled.collect { case Failure(e) => e }
    if (failures.nonEmpty) {
      failures.tail.foreach(failures.head.addSuppressed)
      throw failures.head
    }
    val entries = settled.collect { case Success(kv) => kv }.toMap
    val metricEntries = metrics.map { case (k, v) => s"metric.$k" -> v.toString }
    // last abort poll, adjacent to the linearization point: a commit
    // abandoned DURING metrics evaluation still must not publish
    if (abort()) throw new IllegalStateException(
      s"commit r$round aborted by caller before manifest publication")
    val snapshotId = f"r$round%06d"
    writeManifestAtomic(round,
      entries ++ metricEntries + ("snapshot_id" -> snapshotId) + ("round" -> round.toString))
    snapshotId
  }

  private def writeManifestAtomic(round: Int, flat: Map[String, String]): Unit = {
    val body = flat.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    val tmpManifest = manifestDir.resolve(s".manifest_$round.tmp")
    Files.write(tmpManifest, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmpManifest, manifestPath(round), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def compactTable(spark: SparkSession, table: String): Int = {
    val latest = latestRound.getOrElse(return 0)
    val rel = relsOf(table, latest).getOrElse(return 0)
    val parts = rel.split(',')
    if (parts.length <= 1) return 0
    // 'c' suffix: the compacted base belonging to this snapshot — never
    // collides with a round's own delta dir, and a later compaction at a
    // later round gets its own name
    val relC = f"$table/r$latest%06dc"
    writeDir(read(spark, rel), relC)
    // metadata-only swap on the latest manifest; all other entries
    // (sibling tables, metrics, snapshot id) ride along unchanged
    writeManifestAtomic(latest, readManifest(latest).updated(s"table.$table", relC))
    parts.length
  }

  /** Every table name mentioned by any manifest ≤ `upTo`. */
  private def tablesVisible(upTo: Int): Set[String] =
    (0 to upTo).iterator.filter(r => Files.exists(manifestPath(r)))
      .flatMap(r => readManifest(r).keysIterator
        .filter(_.startsWith("table.")).map(_.stripPrefix("table.")))
      .toSet

  override def expireSnapshots(keepFrom: Int): Seq[Int] = {
    val latest = latestRound.getOrElse(return Seq.empty)
    require(keepFrom <= latest, s"keepFrom $keepFrom is beyond latest round $latest")
    if (!Files.exists(manifestPath(keepFrom)))
      throw new IllegalArgumentException(s"no manifest at horizon round $keepFrom")
    // squash: the horizon manifest must resolve every table on its own,
    // because the walk-back below it is about to disappear
    val resolved = tablesVisible(keepFrom).flatMap(t =>
      relsOf(t, keepFrom).map(rel => s"table.$t" -> rel)).toMap
    writeManifestAtomic(keepFrom, readManifest(keepFrom) ++ resolved)
    val expired = (0 until keepFrom).filter(r => Files.exists(manifestPath(r)))
    expired.foreach(r => Files.deleteIfExists(manifestPath(r)))
    expired
  }

  override def vacuumOrphans(): Seq[String] = {
    val latest = latestRound.getOrElse(return Seq.empty)
    val referenced: Set[String] =
      (0 to latest).iterator.filter(r => Files.exists(manifestPath(r)))
        .flatMap(r => readManifest(r).iterator
          .collect { case (k, v) if k.startsWith("table.") => v.split(',').toSeq }
          .flatten)
        .toSet
    val dataDir = """r\d{6}c?""".r
    val deleted = Files.list(root).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString != "_manifests")
      .flatMap { tdir =>
        Files.list(tdir).iterator().asScala
          .filter(p => dataDir.matches(p.getFileName.toString))
          .map(p => (p, s"${tdir.getFileName}/${p.getFileName}"))
      }
      .filterNot { case (_, rel) => referenced.contains(rel) }
      .toSeq
    deleted.foreach { case (p, _) => deleteRecursively(p) }
    deleted.map(_._2)
  }

  override def metricsOf(round: Int): Map[String, Long] = {
    if (!Files.exists(manifestPath(round))) return Map.empty
    readManifest(round).collect { case (k, v) if k.startsWith("metric.") =>
      k.stripPrefix("metric.") -> v.toLong }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object StateCatalog {
  /** Spark job-group id tagging every job of round N's table writes.
    * Deterministic per round (NOT nonce'd): cancellation uses plain
    * `cancelJobGroup`, which only cancels jobs active at call time, so a
    * same-JVM retry of the round reusing the id is unaffected — the
    * future-jobs variant would blacklist the id and kill the retry. */
  def commitJobGroup(round: Int): String = f"graft-commit-r$round%06d"

  /** Bounded pool for concurrent per-table commit jobs (driver-side action
    * threads only — executor slots are still governed by the scheduler). */
  private[crawl] lazy val commitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-commit"); t.setDaemon(true); t
      }))
}
