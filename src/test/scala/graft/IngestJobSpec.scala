package graft

import org.apache.spark.sql.DataFrame

import graft.operators.IngestJob
import graft.sources.JsonSource

class IngestJobSpec extends SparkSpec {

  private def doc(trackId: String, playedAt: String, name: String,
      pop: Int): String =
    s"""{"track_id":"$trackId","played_at":"$playedAt","track_info":{"name":"$name","artists":[{"id":"a1","name":"Artist"}],"album":{"id":"al1","name":"Album"},"duration_ms":180000,"explicit":false,"popularity":$pop},"batch_info":{"batch_id":"x","collected_at":"2024-01-01T09:00:00Z"}}"""

  private def readDocs(lines: Seq[String]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest")
    java.nio.file.Files.write(dir.resolve("batch.json"),
      String.join("\n", lines: _*).getBytes)
    JsonSource.readListening(spark, dir.toString)
  }

  test("collector replays and catalog updates merge idempotently (EP1)") {
    import spark.implicits._
    val b1 = readDocs(Seq(
      doc("t1", "2024-01-01T08:00:00Z", "Song1", 50),
      doc("t2", "2024-01-01T08:30:00Z", "Song2", 60)))
    val s1 = IngestJob.run(None, b1, "b1")
    assert(s1.plays.count() == 2)
    assert(s1.trackCatalog.count() == 2)

    // batch 2: replays t1's play, adds a new play of t1, updates t1 meta
    val b2 = readDocs(Seq(
      doc("t1", "2024-01-01T08:00:00Z", "Song1", 55), // duplicate play
      doc("t1", "2024-01-01T10:00:00Z", "Song1", 55), // new play
      doc("t3", "2024-01-01T11:00:00Z", "Song3", 10)))
    val s2 = IngestJob.run(Some(s1), b2, "b2")
    assert(s2.plays.count() == 4) // 2 + new t1 play + t3
    assert(s2.trackCatalog.count() == 3)
    // newest metadata won for t1
    assert(s2.trackCatalog.where($"track_id" === "t1").collect()(0)
      .getAs[Int]("popularity") == 55)
    // ledger has both batches
    assert(s2.playLedger.count() == 2)
  }

  test("the forget-ledger front door drops forgotten track_ids before " +
    "ANY zone sees them") {
    import spark.implicits._
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_ingest_ledger").resolve("lg").toString
    graft.operators.Forget.ledgerInit(spark, ledger)
    graft.operators.Forget.ledgerAppend(spark, ledger,
      Seq("t2").toDF("track_id"), keyCol = "track_id")
    val b1 = readDocs(Seq(
      doc("t1", "2024-01-01T08:00:00Z", "Song1", 50),
      doc("t2", "2024-01-01T08:30:00Z", "Song2", 60),
      doc("t3", "2024-01-01T09:00:00Z", "Song3", 70)))
    val s1 = IngestJob.run(None, b1, "b1", ledgerPath = Some(ledger))
    // forgotten track absent from plays, catalog, AND the batch
    // ledger's admitted counts — the guard runs before any zone
    assert(s1.plays.where($"track_id" === "t2").count() == 0)
    assert(s1.trackCatalog.where($"track_id" === "t2").count() == 0)
    assert(s1.plays.count() == 2 && s1.trackCatalog.count() == 2)
    val lrow = s1.playLedger.collect()(0)
    assert(lrow.getAs[Long]("records_seen") == 2L &&
      lrow.getAs[Long]("unique_tracks") == 2L)
    // without the ledger the same batch admits all three (the guard,
    // not the reader, is what dropped t2)
    assert(IngestJob.run(None, b1, "b1").plays.count() == 3)
    // a typo'd ledger path refuses loudly instead of admitting
    val e = intercept[IllegalArgumentException] {
      IngestJob.run(None, b1, "b1",
        ledgerPath = Some(ledger + "_typo"))
    }
    assert(e.getMessage.contains("ledgerInit"))
  }

  test("catalog keep-newest survives double-digit batch sequences") {
    import spark.implicits._
    // 11 batches re-describing the same track with increasing popularity;
    // a lexicographic "b10" < "b2" ordering would keep the wrong one
    var state: Option[IngestJob.RawZone] = None
    for (i <- 1 to 11) {
      val b = readDocs(Seq(
        doc("t1", f"2024-01-01T${7 + i}%02d:00:00Z", "Song1", i)))
      state = Some(IngestJob.run(state, b, s"b$i"))
    }
    assert(state.get.trackCatalog.where($"track_id" === "t1").collect()(0)
      .getAs[Int]("popularity") == 11)
    assert(state.get.playLedger.count() == 11)
  }

  test("a drop's job count does not grow with the drops before it: " +
    "the carried zones are pinned") {
    // six drops of 20 plays over 30 tracks; each re-sends five plays
    // of the drop before it, so every merge has replays to absorb
    def play(d: Int, i: Int): String =
      doc(s"t${(d * 7 + i) % 30}", f"2024-01-${d + 1}%02dT${i}%02d:00:00Z",
        s"Song$i", d * 10 + i)
    val drops = (0 until 6).map(d => readDocs(
      (0 until 20).map(play(d, _)) ++
        (if (d > 0) (15 until 20).map(play(d - 1, _)) else Nil)))
    val out = java.nio.file.Files.createTempDirectory("graft_zone")
    var zone: Option[IngestJob.RawZone] = None
    val jobs = drops.zipWithIndex.map { case (raw, d) =>
      countJobs {
        val z = IngestJob.run(zone, raw, s"b$d")
        z.plays.write.mode("overwrite").parquet(s"$out/plays")
        z.trackCatalog.write.mode("overwrite").parquet(s"$out/catalog")
        z.playLedger.write.mode("overwrite").parquet(s"$out/ledger")
        zone = Some(z)
      }
    }
    info(s"jobs per drop: ${jobs.mkString("/")}")
    assert(jobs.drop(2).forall(_ <= jobs(1)),
      s"jobs per drop ${jobs.mkString("/")}: a drop re-runs the " +
        "drops before it")
    // the pins change no result: every distinct play and track lands
    assert(spark.read.parquet(s"$out/plays").count() == 6 * 20)
    assert(spark.read.parquet(s"$out/catalog").count() == 30)
    assert(spark.read.parquet(s"$out/ledger").count() == 6)
  }

  test("enrichCatalog drops a details entry whose struct has a NULL id") {
    import spark.implicits._
    val zone = IngestJob.run(None,
      readDocs(Seq(doc("t1", "2024-01-01T08:00:00Z", "Song1", 50))), "b1")
    // a malformed API entry: non-null struct, no id — the reader's
    // null-ENTRY filter passes it through, and without the id guard
    // it would full-outer-join on NULL and insert a junk catalog row
    // with Unknown-Artist/Album backstops
    val dir = java.nio.file.Files.createTempDirectory("graft_nullid")
    java.nio.file.Files.write(dir.resolve("pages.json"),
      ("""{"tracks":[{"name":"Ghost","popularity":5},""" +
        """{"id":"t1","popularity":77}]}""").getBytes)
    val details = JsonSource.readTrackDetails(spark, dir.toString)
    assert(details.count() == 2) // both structs are non-null entries
    val enriched = IngestJob.enrichCatalog(zone, details)
    assert(enriched.trackCatalog.where($"track_id".isNull).count() == 0)
    assert(enriched.trackCatalog.count() == 1)
    assert(enriched.trackCatalog.collect()(0)
      .getAs[Int]("popularity") == 77) // the keyed entry still lands
  }

  test("operators tolerate empty input") {
    import graft.operators.{Analytics, StarSchema}
    val empty = StarSchema.clean(eventsDf(Seq.empty))
    assert(StarSchema.fact(empty).count() == 0)
    assert(StarSchema.dailyStats(empty).count() == 0)
    assert(Analytics.heatmap(empty).count() == 0)
    assert(Analytics.loyalty(empty).count() == 0)
    assert(graft.operators.TextOps.nearDupMinhash(
      docsDf(Seq.empty)).count() == 0)
  }
}
