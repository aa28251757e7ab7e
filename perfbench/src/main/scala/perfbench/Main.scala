package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** A check on an operation's output failed; the operation counts as failed. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Counts attempted and failed operations and collects the reported metrics. */
final class Recorder {
  var attempted = 0
  var failed = 0
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()

  /** Runs one operation together with its output checks. A throw, including
    * a failed check, counts the operation as failed and yields None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a finite number: $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    counts: Path,
    overrides: Map[String, String])

object Main {
  /** Measuring stops starting new iterations after this long, whatever the
    * sample count, so a run always ends well inside its time limit. */
  val HardCapSec = 100.0

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Files.createDirectories(Paths.get(need("counts")).toAbsolutePath),
      kv -- Seq("workload", "seed", "seconds", "trace", "work", "counts"))
    val cpus = o.overrides.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val rec = new Recorder
    try o.workload match {
      case "crawl_fatpages" =>
        CrawlBench.run(o, CrawlBench.FatPages.withOverrides(o.overrides), cpus, rec)
      case "curate_corpus" =>
        CurateBench.run(o, CurateBench.Corpus, cpus, rec)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${o.workload} aborted: $e")
        e.printStackTrace()
        sys.exit(1)
    }
    if (o.trace) rec.put("error_rate", rec.failed.toDouble / math.max(1, rec.attempted), "ratio")
    println("PERFBENCH_RESULT " + rec.json)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  /** The traced run's iterations go untraced, traced, untraced. */
  val TracedIteration = 2

  /** Tracing overhead in percent: the traced iteration's throughput against
    * the untraced one right after it. The JVM keeps warming up over a run, so
    * the later iteration runs warmer and this overstates the overhead rather
    * than hiding it. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    100.0 * (1 - traced.head / untraced.last)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `iteration(i)` for i = 1, 2, ... until `seconds` have passed and
    * at least `minIterations` ran (bounded by [[HardCapSec]]). */
  def measure(seconds: Double, minIterations: Int)(iteration: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 1
    while ((secs(t0) < seconds || i <= minIterations) && secs(t0) < HardCapSec) {
      iteration(i)
      i += 1
    }
  }

  def freshDir(p: Path): Path = { Fs.deleteRecursively(p); Files.createDirectories(p) }
}
