package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sinks, StarSchema}

class StarSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def sample = eventsDf(Seq(
    (1L, 10L, "2024-01-01 08:30:00", "play", 120.5, """{"k":1}"""),
    (2L, 10L, "2024-01-01 13:00:00", "play", 30.25, """{"k":2}"""),
    (3L, 11L, "2024-01-01 19:45:00", "skip", 5.0, """{"k":3}"""),
    (4L, 11L, "2024-01-02 02:10:00", "", 42.0, "{}"),
    (5L, 12L, "2024-01-03 23:59:59", "purchase", 99.99, "{}")))

  test("clean preserves rows and derives time/quality columns") {
    val c = StarSchema.clean(sample)
    assert(c.count() == 5)
    val r = c.where($"event_id" === 1).collect()(0)
    assert(r.getAs[Int]("event_hour") == 8)
    assert(r.getAs[String]("time_period") == "morning")
    assert(r.getAs[Long]("value_cents") == 12050L)
    assert(r.getAs[Int]("prop_k") == 1)
    // empty type -> 'unknown' + quality tier
    val r4 = c.where($"event_id" === 4).collect()(0)
    assert(r4.getAs[String]("event_type") == "unknown")
    assert(r4.getAs[Double]("quality_score") == 0.5)
  }

  test("fact resolves every row against the broadcast dims (J1)") {
    val c = StarSchema.clean(sample)
    val f = StarSchema.fact(c)
    assert(f.count() == 5)
    assert(f.where($"user_key".isNull || $"type_key".isNull ||
      $"date_key".isNull).count() == 0)
  }

  test("dimDates spans min..max with no gaps") {
    val d = StarSchema.dimDates(StarSchema.clean(sample))
    assert(d.count() == 3) // Jan 1-3
    assert(d.agg(min($"date_value").cast("string")).collect()(0)
      .getString(0) == "2024-01-01")
  }

  test("dailyStats period counts sum to the day total (A4)") {
    val s = StarSchema.dailyStats(StarSchema.clean(sample))
    val bad = s.where($"morning_events" + $"afternoon_events" +
      $"evening_events" + $"night_events" =!= $"total_events")
    assert(bad.count() == 0)
  }

  test("insertIfAbsent is idempotent (J2/S9 replay safety)") {
    val c = StarSchema.clean(sample)
    val first = Sinks.insertIfAbsent(c.limit(0), c,
      Seq("user_id", "ts"), "event_id")
    assert(first.count() == 5)
    val second = Sinks.insertIfAbsent(first, c,
      Seq("user_id", "ts"), "event_id")
    assert(second.count() == 0)
  }

  test("upsertKeepNewest keeps the highest version per key (S6)") {
    val existing = Seq((10L, "a", 1L), (11L, "b", 1L))
      .toDF("user_id", "payload", "version")
    val incoming = Seq((10L, "a2", 2L), (12L, "c", 1L))
      .toDF("user_id", "payload", "version")
    val merged = Sinks.upsertKeepNewest(existing, incoming,
      Seq("user_id"), "version")
    assert(merged.count() == 3)
    assert(merged.where($"user_id" === 10).collect()(0)
      .getAs[String]("payload") == "a2")
  }

  test("replacePartition swaps only the recomputed slice (S11)") {
    val existing = Seq(("2024-01-01", 5L), ("2024-01-02", 7L))
      .toDF("stats_date", "n")
    val recomputed = Seq(("2024-01-02", 9L)).toDF("stats_date", "n")
    val out = Sinks.replacePartition(existing, recomputed, "stats_date",
      Seq("2024-01-02"))
    assert(out.count() == 2)
    assert(out.where($"stats_date" === "2024-01-02").collect()(0)
      .getAs[Long]("n") == 9L)
  }

  test("scd2UserStatus collapses runs and chains validity intervals") {
    // user 10: play, play, skip, play -> 3 versions (the repeated
    // play collapses into its open run)
    val ev = eventsDf(Seq(
      (1L, 10L, "2024-01-01 08:00:00", "play", 1.0, "{}"),
      (2L, 10L, "2024-01-01 09:00:00", "play", 1.0, "{}"),
      (3L, 10L, "2024-01-01 10:00:00", "skip", 1.0, "{}"),
      (4L, 10L, "2024-01-01 11:00:00", "play", 1.0, "{}"),
      (5L, 11L, "2024-01-01 12:00:00", "buy", 1.0, "{}")))
    val dim = StarSchema.scd2UserStatus(StarSchema.clean(ev))
    val u10 = dim.where($"user_id" === 10)
      .orderBy($"version_n").collect()
    assert(u10.map(_.getAs[String]("status")).toSeq ==
      Seq("play", "skip", "play"))
    assert(u10.map(_.getAs[Long]("version_n")).toSeq == Seq(1L, 2L, 3L))
    // each closed version's valid_to is the next version's valid_from
    u10.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[java.sql.Timestamp]("valid_to") ==
        b.getAs[java.sql.Timestamp]("valid_from"))
    }
    // exactly one open (is_current) version per user
    val open = dim.where($"is_current")
      .groupBy($"user_id").count().collect()
    assert(open.forall(_.getLong(1) == 1L))
    assert(open.length == 2)
    // the open version has no valid_to
    assert(dim.where($"is_current" && $"valid_to".isNotNull).count() == 0)
  }
}
