package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EtlJob, Stage, StarSchema}

/** SURVEY.md §5.4 pipeline replay: day-sliced incremental runs (with
  * overlapping/duplicate deliveries) must converge to the same star
  * schema as one full-batch run. */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private def events: DataFrame = eventsDf((1 to 90).map { i =>
    val day = 1 + (i % 3) // three days
    (i.toLong, (i % 7).toLong, f"2024-01-0$day ${i % 24}%02d:15:00",
      Seq("play", "skip", "purchase")(i % 3), i * 1.25, "{}")
  })

  private def sorted(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toString).toSeq.sorted
  }

  private def day(n: Int): DataFrame =
    events.where(to_date($"ts") === s"2024-01-0$n")

  /** Day slices, delivered with day 2 duplicated across two batches,
    * must land on the full-batch star schema. */
  private def replayConverges(): Unit = {
    val full = EtlJob.run(None, events, "full")
    val (d1, d2, d3) = (day(1), day(2), day(3))
    val s1 = EtlJob.run(None, d1, "b1")
    val s2 = EtlJob.run(Some(s1), d2.unionAll(d1.limit(10)), "b2") // replays
    val s3 = EtlJob.run(Some(s2), d3.unionAll(d2), "b3") // full d2 again

    assert(sorted(s3.fact) == sorted(full.fact))
    assert(sorted(s3.dimUsers) == sorted(full.dimUsers))
    assert(sorted(s3.dimTypes) == sorted(full.dimTypes))
    assert(sorted(s3.dailyStats) == sorted(full.dailyStats))
    // ledger: 3 batches, replayed rows not double-counted
    val processed = s3.ledger.agg(sum($"records_processed")).collect()(0)
      .getLong(0)
    assert(processed == events.dropDuplicates("user_id", "ts").count())
    assert(s3.ledger.select($"batch_id", $"records_processed").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      Seq("b1" -> 30L, "b2" -> 30L, "b3" -> 30L))
  }

  test("incremental day-sliced replay converges to the full-batch state") {
    replayConverges()
  }

  test("replay converges with every pin on the reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_etl_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Stage.ReliableFlag, "true")
    try {
      replayConverges()
      assert(Option(dir.toFile.list()).exists(_.nonEmpty),
        "reliable mode wrote nothing to the checkpoint dir")
    } finally spark.conf.set(Stage.ReliableFlag, "false")
  }

  test("each run reads its raw batch once") {
    // a nondeterministic tap counts every raw row any job reads; the
    // repartition keeps the optimizer from evaluating it on the driver
    val reads = spark.sparkContext.longAccumulator("etl_raw_reads")
    val tap = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
    def tapped(df: DataFrame): DataFrame =
      df.repartition(2).withColumn("event_id", tap($"event_id"))
    val batches = Seq(day(1), day(2).unionAll(day(1).limit(10)), day(3))
    val handedIn = batches.map(_.count()).sum
    val s = batches.zipWithIndex.foldLeft(Option.empty[EtlJob.EtlState]) {
      case (st, (b, i)) => Some(EtlJob.run(st, tapped(b), s"b$i"))
    }.get
    Seq(s.fact, s.dimUsers, s.dimTypes, s.dimDates, s.dailyStats, s.ledger)
      .foreach(_.collect())
    assert(reads.value == handedIn,
      s"${reads.value} raw rows read for $handedIn handed in")
  }

  /** Two events of a fourth day, in no other batch. */
  private def extra: DataFrame = eventsDf(Seq(
    (900L, 1L, "2024-01-04 09:00:00", "play", 2.0, "{}"),
    (901L, 2L, "2024-01-04 10:30:00", "skip", 1.0, "{}")))

  test("the ledger is kept on the driver: reading it runs no job") {
    val batches = Seq(
      "b1" -> day(1),
      "b2" -> day(2).unionAll(day(1).limit(10)),
      "b3" -> day(1), // pure replay
      "b4" -> day(3).unionAll(day(3)), // in-batch duplicates
      "b5" -> events, // pure replay of everything
      "b6" -> events.unionAll(extra))
    def mark(df: DataFrame) = Option(df.agg(max($"ts")).collect()(0)
      .getTimestamp(0))
    val expected = Seq(
      ("b1", 30L, mark(day(1))), ("b2", 30L, mark(day(2))),
      ("b3", 0L, None), ("b4", 30L, mark(day(3))),
      ("b5", 0L, None), ("b6", 2L, mark(extra)))
    def logged(st: EtlJob.EtlState) = st.ledger.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), Option(r.getTimestamp(2))))

    val s1 = EtlJob.run(None, batches.head._2, batches.head._1)
    assert(countJobs(s1.ledger.collect()) == 0)
    assert(logged(s1) == expected.take(1))
    val s6 = batches.tail.foldLeft(s1) { case (st, (id, b)) =>
      EtlJob.run(Some(st), b, id)
    }
    assert(countJobs(s6.ledger.collect()) == 0)
    assert(logged(s6) == expected)
    assert(s6.ledger.schema.map(f => f.name -> f.nullable) == Seq(
      "batch_id" -> false, "records_processed" -> false,
      "high_watermark" -> true))
  }

  /** Twelve slices, each re-sending a few rows of the one before. */
  private def slices: Seq[DataFrame] = (0 until 12).map { k =>
    events.where(($"event_id" % 12) === k)
      .unionAll(events.where(($"event_id" % 12) === (k + 11) % 12)
        .limit(2))
  }

  /** The state's frames that are a pin or a projection of one, so
    * building their RDDs runs no job. */
  private def carried(s: EtlJob.EtlState): Seq[DataFrame] =
    Seq(s.clean, s.fact, s.userDayCounts, s.typeStats, s.dailyStats)

  /** Lines of each carried frame's RDD lineage. */
  private def depths(s: EtlJob.EtlState): Seq[Int] =
    carried(s).map(_.rdd.toDebugString.linesIterator.size)

  /** Persisted RDDs reachable from the carried frames' lineage: the
    * blocks this state keeps cached. */
  private def cachedReach(s: EtlJob.EtlState): Int = {
    def walk(r: org.apache.spark.rdd.RDD[_], seen: Set[Int]): Set[Int] =
      if (seen(r.id)) seen
      else r.dependencies.map(_.rdd).foldLeft(seen + r.id)((acc, p) =>
        walk(p, acc))
    val ids = carried(s).map(_.rdd).foldLeft(Set.empty[Int])((acc, r) =>
      walk(r, acc))
    spark.sparkContext.getPersistentRDDs.keySet.count(ids)
  }

  /** Folds the twelve slices and checks the state's lineage and cached
    * pins stay flat from run 2 to run 12, then that it equals a
    * full-batch run. With `readEach`, every frame a day's publish
    * writes is read after each run, as a warehouse caller does; the
    * accumulated clean and the dim accumulators are read only through
    * them. Broadcast joins are off, so the anti-join against history
    * shuffles, as it does once history outgrows the broadcast limit. */
  private def foldStaysFlat(readEach: Boolean): Unit = {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(threshold, "-1")
    try foldStaysFlatUnbroadcast(readEach)
    finally spark.conf.unset(threshold)
  }

  private def foldStaysFlatUnbroadcast(readEach: Boolean): Unit = {
    val full = EtlJob.run(None, events, "full")
    var state = Option.empty[EtlJob.EtlState]
    val shape = slices.zipWithIndex.map { case (b, i) =>
      val jobs = countJobs { state = Some(EtlJob.run(state, b, s"b$i")) }
      val s = state.get
      if (readEach)
        Seq(s.fact, s.dimUsers, s.dimTypes, s.dimDates, s.dailyStats,
          s.ledger).foreach(_.collect())
      (jobs, depths(s), cachedReach(s))
    }
    info(s"per run (jobs, lineage lines, cached pins): " +
      shape.mkString(" "))
    val (_, depth2, cached2) = shape(1)
    val (_, depth12, cached12) = shape.last
    assert(depth12 == depth2, "carried lineage grew from run 2 to run 12")
    assert(cached12 == cached2, "cached pins grew from run 2 to run 12")
    val s12 = state.get
    assert(sorted(s12.fact) == sorted(full.fact))
    assert(sorted(s12.dimUsers) == sorted(full.dimUsers))
    assert(sorted(s12.dimTypes) == sorted(full.dimTypes))
    assert(sorted(s12.dimDates) == sorted(full.dimDates))
    assert(sorted(s12.dailyStats) == sorted(full.dailyStats))
    val thirteenth = countJobs {
      state = Some(EtlJob.run(state, extra.unionAll(day(2)), "b12"))
    }
    assert(thirteenth <= shape(1)._1,
      s"run 13 launched $thirteenth jobs, run 2 ${shape(1)._1}")
  }

  test("a fold with no read between runs keeps lineage bounded " +
    "(the foreachBatch pattern)") {
    foldStaysFlat(readEach = false)
  }

  test("a fold that reads every published frame after each run keeps " +
    "lineage and cached pins flat") {
    foldStaysFlat(readEach = true)
  }

  test("out-of-order backfill delivery converges to the full-batch state") {
    val full = EtlJob.run(None, events, "full")
    val (d1, d2, d3) = (day(1), day(2), day(3))
    // newest day first, then a backfill of the oldest, then the middle
    val s1 = EtlJob.run(None, d3, "b1")
    val s2 = EtlJob.run(Some(s1), d1, "b2_backfill")
    val s3 = EtlJob.run(Some(s2), d2, "b3")
    assert(sorted(s3.fact) == sorted(full.fact))
    assert(sorted(s3.dailyStats) == sorted(full.dailyStats))
    assert(sorted(s3.dimUsers) == sorted(full.dimUsers))
    assert(sorted(s3.dimDates) == sorted(full.dimDates))
  }

  test("incremental dims equal the StarSchema aggregates over history") {
    val (d1, d2, d3) = (day(1), day(2), day(3))
    val s1 = EtlJob.run(None, d1, "b1")
    val s2 = EtlJob.run(Some(s1), d2.unionAll(d1.limit(5)), "b2")
    val s3 = EtlJob.run(Some(s2), d3, "b3")
    // the accumulator-derived dims must be indistinguishable from a
    // full re-aggregation of the accumulated clean staging
    assert(sorted(s3.dimUsers) == sorted(StarSchema.dimUsers(s3.clean)))
    assert(sorted(s3.dimTypes) == sorted(StarSchema.dimTypes(s3.clean)))
    assert(sorted(s3.dimDates) == sorted(StarSchema.dimDates(s3.clean)))
  }

  test("running the identical batch twice is a no-op") {
    val s1 = EtlJob.run(None, events, "b1")
    val s2 = EtlJob.run(Some(s1), events, "b2")
    assert(sorted(s2.fact) == sorted(s1.fact))
    assert(sorted(s2.dailyStats) == sorted(s1.dailyStats))
    assert(s2.ledger.where($"batch_id" === "b2").collect()(0)
      .getAs[Long]("records_processed") == 0L)
  }
}
