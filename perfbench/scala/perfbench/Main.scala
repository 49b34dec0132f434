package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Analytics, EtlJob, IngestJob, StarSchema,
  Warehouse}
import graft.sources.JsonSource

/** The benchmark's program driver: one fresh JVM per run.
  *
  * Usage: `perfbench.Main <workload> <runDir> <seconds> <trace> <cpus>`.
  * Reads the generated inputs under `<runDir>/in` (see gen.py), builds
  * the workload's starting state, runs one untimed warm-up of every
  * operation kind, then repeats whole rounds of the workload until
  * `seconds` have passed. Program outputs go to `<runDir>/out` for the
  * checker; timings, counts and (traced) spans go to
  * `<runDir>/jvm.json`. Every call into the program goes through
  * [[Recorder.time]]. */
object Main {

  final class Run(val spark: SparkSession, val rec: Recorder,
      val in: String, val out: String, val params: Map[String, Any]) {
    private def buf = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val facts = mutable.LinkedHashMap.empty[String, Double]
    var timing = false
    var attempted = 0L
    var failed = 0L
    private var failures = 0L // every failure, warm-up included

    /** A timed operation of kind `kind`: its wall seconds and the
      * process CPU seconds spent meanwhile are recorded as samples in
      * the timed phase. An operation that throws, or that holds an
      * operation that failed, is counted in `failed`, gives no sample
      * and returns None. */
    def op[T](kind: String)(body: => T): Option[T] = {
      val c0 = cpuSeconds
      val f0 = failures
      val res = try Some(rec.time(kind)(body)) catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op $kind failed: $e")
          None
      }
      val cpu = cpuSeconds - c0
      if (timing) attempted += 1
      res.filter(_ => failures == f0) match {
        case Some((r, secs)) =>
          System.err.println(f"[perfbench] op $kind%s $secs%.3f s, cpu $cpu%.3f s")
          if (timing) {
            samples.getOrElseUpdate(kind, buf) += secs
            cpuSamples.getOrElseUpdate(kind, buf) += cpu
          }
          Some(r)
        case None =>
          failures += 1
          if (timing) failed += 1
          None
      }
    }
    def int(k: String): Int = params(k).asInstanceOf[Number].intValue
    def str(k: String): String = params(k).toString
  }

  trait Workload {
    def setup(): Unit
    def warmup(): Unit
    def round(): Unit
    def finish(): Unit = ()
  }

  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def events(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path).withColumn("ts", col("ts").cast("timestamp_ntz"))

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  private def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.startsWith("part-")) 1L else 0L

  private val notNull = (c: String) => Seq(s"${c}_present" -> col(c).isNotNull)

  /** Collector drops folded by IngestJob, then daily ETL batches folded
    * by EtlJob and published with Warehouse.publishAudited. A round
    * starts both folds from empty, so every round does the same work. */
  final class CollectEtl(r: Run) extends Workload {
    import r._
    private val drops = (0 until int("drops")).map(d => f"$in/drops/d$d%02d")
    private val days = (0 until int("days")).map(d => f"$in/days/day$d%02d.parquet")

    def setup(): Unit = ()

    private def drop(zone: Option[IngestJob.RawZone], d: Int,
        dest: String): Option[IngestJob.RawZone] = op("collect_drop") {
      val (raw, _) = rec.time("sources")(
        JsonSource.readListening(spark, drops(d)))
      rec.time("ingest") {
        val z = IngestJob.run(zone, raw, f"drop-$d%02d")
        z.plays.write.mode("overwrite").parquet(s"$dest/plays")
        z.trackCatalog.write.mode("overwrite").parquet(s"$dest/catalog")
        z.playLedger.write.mode("overwrite").parquet(s"$dest/ledger")
        z
      }._1
    }

    private def day(state: Option[EtlJob.EtlState], d: Int,
        dest: String): Option[EtlJob.EtlState] = op("etl_day") {
      val (st, _) = rec.time("etl") {
        val st = EtlJob.run(state, events(spark, days(d)), f"day-$d%02d")
        rec.note("pinned_bytes", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble)
        st
      }
      rec.time("warehouse") {
        Warehouse.publishAudited(st.fact, s"$dest/fact",
          notNull("user_key"), Seq("date_key"))
        Warehouse.publishAudited(st.dimUsers, s"$dest/dim_users",
          notNull("user_key"))
        Warehouse.publishAudited(st.dimTypes, s"$dest/dim_types",
          notNull("type_key"))
        Warehouse.publishAudited(st.dimDates, s"$dest/dim_dates",
          notNull("date_key"))
        Warehouse.publishAudited(st.dailyStats, s"$dest/daily_stats",
          notNull("event_date"))
      }
      rec.note("files", dataFiles(new File(dest)).toDouble)
      st
    }

    def warmup(): Unit = {
      drop(None, 0, s"$out/warm/zone")
      day(None, 0, s"$out/warm/wh")
    }

    /** Folds steps 0 until n from empty. A failed step ends the fold,
      * since every later step builds on its result. */
    private def fold[S](n: Int)(step: (Option[S], Int) => Option[S]): Unit = {
      var state = Option.empty[S]
      var d = 0
      while (d < n && (d == 0 || state.isDefined)) {
        state = step(state, d)
        d += 1
      }
    }

    def round(): Unit = {
      fold[IngestJob.RawZone](drops.size)(drop(_, _, s"$out/zone"))
      fold[EtlJob.EtlState](days.size)(day(_, _, s"$out/wh"))
    }

    override def finish(): Unit =
      facts("warehouse_bytes") = dirBytes(new File(s"$out/wh")).toDouble
  }

  /** A closed-loop dashboard client over a warehouse published during
    * setup. A refresh runs every panel once; a round is a fixed number
    * of refreshes, so every run measures the same refreshes. */
  final class Dashboard(r: Run) extends Workload {
    import r._
    private val end = java.time.LocalDate.parse(str("end_date"))
    private val wh = s"$out/wh"
    private val last = mutable.LinkedHashMap.empty[String, (Array[Row],
      org.apache.spark.sql.types.StructType)]

    def setup(): Unit = {
      val clean = StarSchema.clean(events(spark, s"$in/events.parquet"))
      Warehouse.publishAudited(clean, s"$wh/clean", notNull("user_id"))
      Warehouse.publishAudited(StarSchema.fact(clean), s"$wh/fact",
        notNull("user_key"), Seq("date_key"))
      facts("warehouse_bytes") = dirBytes(new File(wh)).toDouble
    }

    private def panels(clean: DataFrame, fact: DataFrame)
        : Seq[(String, () => DataFrame)] = Seq(
      "heatmap" -> (() => Analytics.heatmap(clean)),
      "hour_ratio" -> (() => Analytics.hourRatio(clean)),
      "radar" -> (() => Analytics.radar(clean)),
      "loyalty" -> (() => Analytics.loyalty(clean)),
      "top_users" -> (() => Analytics.topN(clean, "user_id", int("top_k"))),
      "discovery_weekly" -> (() => Analytics.discoveryWeekly(clean)),
      "cohort_retention" -> (() => Analytics.cohortRetention(clean)),
      "sessions" -> (() => Analytics.sessionize(clean)),
      "daily_stats" -> (() => StarSchema.dailyStats(clean)),
      "last_days" -> (() => Warehouse.lastDays(fact, end, int("slice_days"))
        .groupBy(col("date_key"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("value_cents"))))

    private def refresh(): Unit = op("refresh") {
      val ((clean, fact), _) = rec.time("warehouse") {
        val c = Warehouse.readPublished(spark, s"$wh/clean")
        val f = Warehouse.readPublished(spark, s"$wh/fact")
        rec.note("files", (c.inputFiles.length + f.inputFiles.length).toDouble)
        (c, f)
      }
      panels(clean, fact).foreach { case (name, q) =>
        op("panel") {
          rec.time(name) {
            val df = q()
            val rows = df.collect()
            rec.note("output_rows", rows.length.toDouble)
            (rows, df.schema)
          }._1
        }.foreach(last(name) = _)
      }
    }

    def warmup(): Unit = refresh()
    def round(): Unit = (1 to int("refreshes")).foreach(_ => refresh())

    override def finish(): Unit = last.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/panels/$name")
    }
  }

  private def readParams(path: String): Map[String, Any] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(path), classOf[java.util.Map[String, Any]])
      .asScala.toMap

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
  }

  private def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
    "self_s" -> s.selfSeconds, "jobs" -> s.jobs.get, "stages" -> s.stages.get,
    "tasks" -> s.tasks.get, "task_cpu_s" -> s.cpuNs.get / 1e9,
    "records_read" -> s.recordsRead.get,
    "shuffle_read_rows" -> s.shuffleRead.get,
    "shuffle_write_rows" -> s.shuffleWrite.get,
    "spill_bytes" -> s.spillBytes.get, "task_gc_s" -> s.taskGcMs.get / 1e3,
    "bytes_written" -> s.bytesWritten.get,
    "records_written" -> s.recordsWritten.get,
    "gc_s" -> s.gcMs / 1e3, "jit_compile_s" -> s.jitMs / 1e3,
    "codegen_compiles" -> s.codegen,
    "extra" -> s.extra)

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, secondsArg, traceArg, cpus) = args
    val spark = GraftSession.create(cpus)
    try {
      val rec = new Recorder(spark, traceArg == "1")
      val r = new Run(spark, rec, s"$runDir/in", s"$runDir/out",
        readParams(s"$runDir/in/params.json"))
      val w: Workload = workload match {
        case "collect_etl" => new CollectEtl(r)
        case "dashboard" => new Dashboard(r)
      }
      w.setup()
      w.warmup()
      rec.spans.clear()
      val setupEndMs = System.currentTimeMillis()
      val cpu0 = cpuSeconds
      val t0 = System.nanoTime()
      val budget = secondsArg.toDouble
      r.timing = true
      // whole rounds only; a round that would end past the budget (at
      // the mean round time so far) is not started
      var rounds = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (rounds == 0 || elapsed * (rounds + 1) / rounds <= budget) {
        w.round()
        rounds += 1
      }
      r.timing = false
      val timed = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds - cpu0
      w.finish()
      val res = Map[String, Any](
        "setup_end_ms" -> setupEndMs, "timed_s" -> timed, "cpu_s" -> cpu,
        "rounds" -> rounds, "attempted" -> r.attempted, "failed" -> r.failed,
        "samples" -> r.samples, "cpu_samples" -> r.cpuSamples,
        "facts" -> r.facts,
        "spans" -> rec.spans.map(spanJson))
      val pw = new PrintWriter(s"$runDir/jvm.json")
      try pw.print(json(res)) finally pw.close()
    } finally spark.stop()
  }
}
