package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.crawl.StateCatalog

/** One Spark job as seen by [[JobListener]]: wall interval (epoch ms), job
  * group, long call site, and the task totals of its stages. The call site
  * also holds that of the SQL action the job belongs to, because adaptive
  * execution submits query-stage jobs from a thread pool, whose own stack
  * names no caller. */
final class JobSpan(val id: Int, val group: String, val callSite: String, val startMs: Long) {
  var endMs: Long = -1L
  var taskMs: Long = 0L
  var gcMs: Long = 0L
  var shuffleBytes: Long = 0L
  var spillBytes: Long = 0L
  var tasks: Long = 0L
  def isCommit: Boolean = group != null && group.startsWith("graft-commit-r")
}

/** Sums executor run time, GC, shuffle write and spill per job, and keeps
  * each job's interval, group and call site. Spans stay in memory; the
  * traced run reads them after each operation. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
  private val sqlSite = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSite.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlSite.get(id)))
    val site = (e.stageInfos.map(_.details) ++ sql).mkString("\n")
    val j = new JobSpan(e.jobId, group, site, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }

  /** Finished jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobSpan] = {
    val out = ArrayBuffer[JobSpan]()
    jobs.values.forEach(j => if (j.startMs >= fromMs && j.startMs <= toMs && j.endMs >= 0) out += j)
    out.sortBy(_.startMs).toSeq
  }
}

object Trace {
  /** Register `l` for the duration of `body`; drains the bus before reading. */
  def withListener[T](sc: SparkContext, l: JobListener)(body: => T): T = {
    sc.addSparkListener(l)
    try { val r = body; org.apache.spark.PerfbenchBridge.drainListeners(sc); r }
    finally sc.removeSparkListener(l)
  }

  /** Total length of the union of `[start, end]` intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time inside [fromMs, toMs] with no job running (ms). */
  def idleMs(jobs: Seq[JobSpan], fromMs: Long, toMs: Long): Long =
    (toMs - fromMs) - unionMs(jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (s, e) => e > s })

  /** Median nanoseconds per call of `f` over `n` items: one warm-up pass,
    * then five timed passes. Single-threaded. */
  def nsPerCall(n: Int)(f: Int => Unit): Double = {
    var i = 0
    while (i < n) { f(i); i += 1 }
    val samples = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < n) { f(j); j += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(samples)
  }
}

/** Delegating [[StateCatalog]] that records the wall interval of every
  * `commit` and `load`. */
final class TimedCatalog(inner: StateCatalog) extends StateCatalog {
  /** (round, startMs, endMs) per commit. */
  val commits: ArrayBuffer[(Int, Long, Long)] = ArrayBuffer()
  /** (table, nanos) per load. */
  val loads: ArrayBuffer[(String, Long)] = ArrayBuffer()

  override def latestRound: Option[Int] = inner.latestRound

  override def load(spark: SparkSession, table: String, atRound: Option[Int]): Option[DataFrame] = {
    val t0 = System.nanoTime()
    try inner.load(spark, table, atRound)
    finally loads.synchronized { loads += ((table, System.nanoTime() - t0)) }
  }

  override def commit(round: Int, tables: Map[String, DataFrame],
      metrics: => Map[String, Long], appends: Map[String, DataFrame],
      abort: () => Boolean): String = {
    val t0 = System.currentTimeMillis()
    try inner.commit(round, tables, metrics, appends, abort)
    finally commits.synchronized { commits += ((round, t0, System.currentTimeMillis())) }
  }

  override def metricsOf(round: Int): Map[String, Long] = inner.metricsOf(round)
  override def compactTable(spark: SparkSession, table: String): Int = inner.compactTable(spark, table)
  override def expireSnapshots(keepFrom: Int): Seq[Int] = inner.expireSnapshots(keepFrom)
  override def vacuumOrphans(): Seq[String] = inner.vacuumOrphans()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
