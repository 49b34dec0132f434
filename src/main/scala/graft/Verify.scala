package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — a focused
    // local re-check (the driver always passes two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Write the oracle map FIRST: it depends only on static Suite
    // definitions, and writing it up front means a query that kills
    // the JVM (OOM) costs one query's dump, not the whole round.
    writeOracles(outDir, only)
    // Per-query watchdog: one pathological plan must not stall the
    // whole correctness run. Each query executes under its own job
    // group; on timeout the group is cancelled and the run moves on.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toInt
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val worker = new Thread(() =>
        try {
          spark.sparkContext.setJobGroup(s"verify_$name", name,
            interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        })
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000L)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name TIMED OUT after ${timeoutSec}s — cancelling")
        // cancel current AND future jobs of the group (AQE queries are
        // many jobs; plain cancelJobGroup lets the next job start), and
        // interrupt the worker in case it is in driver-side work
        // between jobs (planning, listing, commit)
        spark.sparkContext.cancelJobGroupAndFutureJobs(s"verify_$name")
        worker.interrupt()
        worker.join(30000L)
      }
      // release any caches an operator pinned (e.g. pre-agg cubes) so
      // one query's working set doesn't squeeze the next's
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as JSON. String escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  private def writeOracles(outDir: String,
      only: Option[Set[String]]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
