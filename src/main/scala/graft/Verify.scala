package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // opt-in subset for local iteration (driver never sets it): run only
    // the named queries; oracle_sql.json still carries every entry, and
    // compare.py flags the unwritten ones as MISSING — a partial verify
    // is visibly partial, never silently green
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.registry.filter(query => only.forall(_.contains(query.name))).foreach { query =>
      val t0 = System.nanoTime()
      try {
        query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${query.name}")
        System.err.println(f"[verify] ${query.name} ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
      // queries share no caches by design; dropping whatever a query pinned
      // (e.g. q16's globalCumsumPinned output) keeps repeated-query sessions
      // from accumulating session-lifetime caches
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry
      .map(query => s"${q(query.name)}: ${q(query.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
