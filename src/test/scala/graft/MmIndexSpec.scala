package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingOps, Multimodal}

/** Persisted perceptual-hash (aHash) image near-dup index: lifecycle
  * parity (append == rebuild, stats sidecars merge exactly, deletes
  * mask then apply physically), snapshot pinning with the retention
  * grace, and the oversized-bucket cap with dead-hub re-routing. */
class MmIndexSpec extends SparkSpec {

  private def freshDir(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_$tag").resolve("ix").toString

  private lazy val media = Multimodal.syntheticPngMedia(
    Tables(spark, "/root/testdata/sf0.001").documents.toDF()
      .where(col("doc_id") < 300)).localCheckpoint()

  private def served(idx: String,
      asOf: Option[graft.operators.IndexSnapshot] = None)
      : Array[String] =
    Multimodal.phashNearDupServe(spark, idx,
        media.where(col("doc_id") % 3 === 2), asOf = asOf)
      .collect().map(_.toString).sorted

  test("append equals rebuild, stats sidecars merge exactly, deletes " +
    "mask immediately, and compaction preserves the serve while " +
    "applying them physically") {
    val idx = freshDir("phash_life")
    Multimodal.phashIndexWrite(media.where(col("doc_id") % 3 === 0), idx)
    Multimodal.phashIndexAppend(media.where(col("doc_id") % 3 === 1), idx)
    val fresh = freshDir("phash_fresh")
    Multimodal.phashIndexWrite(media.where(col("doc_id") % 3 =!= 2),
      fresh)
    val rows = served(idx)
    assert(rows.nonEmpty, "the lifecycle fixture must be non-vacuous")
    // the batch-key route: Int.MaxValue must not wrap the probe's +1
    // negative, and the keyed fallback (localKeyLimit = 1) serves the
    // default-cap rows too
    Seq(Int.MaxValue, 1).foreach { limit =>
      assert(Multimodal.phashNearDupServe(spark, idx,
          media.where(col("doc_id") % 3 === 2), localKeyLimit = limit)
        .collect().map(_.toString).sorted.sameElements(rows),
        s"image route at localKeyLimit = $limit != default")
    }
    assert(rows.sameElements(served(fresh)),
      "a write+append index must serve identically to a rebuild")
    // merged 2-segment stats == the fresh single segment's stats
    assert(Multimodal.phashIndexStats(spark, idx)
        .collect().map(_.toString).sorted
      .sameElements(Multimodal.phashIndexStats(spark, fresh)
        .collect().map(_.toString).sorted),
      "per-segment _pstats must merge to the single-segment window")

    // delete: pinned view replays, live serve excludes immediately
    val snap = EmbeddingOps.indexSnapshot(spark, idx)
    val victims = media.where(col("doc_id") % 3 =!= 2 &&
      col("doc_id") % 5 === 0).select(col("doc_id"))
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(rows.exists(r => victimIds.exists(v => r.startsWith(s"[$v,"))),
      "the deletion slice must intersect the served pairs")
    Multimodal.phashIndexDelete(spark, idx, victims)
    val afterDel = served(idx)
    assert(!afterDel.exists(r =>
        victimIds.exists(v => r.startsWith(s"[$v,"))),
      "tombstoned docs must leave the serve immediately")
    assert(served(idx, Some(snap)).sameElements(rows),
      "the pinned serve must replay the pre-delete view")

    // compaction: serve identical, tombstones applied physically,
    // the pre-compaction token rides the retention grace
    assert(Multimodal.phashIndexCompact(spark, idx) >= 1)
    assert(served(idx).sameElements(afterDel),
      "compaction changed the live serve")
    assert(served(idx, Some(snap)).sameElements(rows),
      "the pre-compaction token must serve from the retired tree")
    // a second swap prunes the retired tree: the token refuses
    Multimodal.phashIndexAppend(media.where(col("doc_id") % 3 === 2),
      idx)
    assert(Multimodal.phashIndexCompact(spark, idx) >= 1)
    val e = intercept[IllegalArgumentException] {
      Multimodal.phashNearDupServe(spark, idx,
        media.where(col("doc_id") % 3 === 2), asOf = Some(snap)).count()
    }
    assert(e.getMessage.contains("snapshot expired"))
  }

  test("empty segments are legal end-to-end: a modality-less batch " +
    "serves empty, an all-undecodable batch appends a no-op segment, " +
    "and a fully-tombstoned index still compacts and serves") {
    val idx = freshDir("phash_empty")
    Multimodal.phashIndexWrite(media.where(col("doc_id") < 60), idx)
    // a text-only batch has no images: answer "no near-dups", never
    // crash a routine ingest loop
    val textOnly = spark.range(5L).select(col("id").as("doc_id"),
      lit("text/plain").as("media_type"),
      lit("hello".getBytes("UTF-8")).as("payload"))
    assert(Multimodal.phashNearDupServe(spark, idx, textOnly)
      .count() === 0L)
    // an all-undecodable image batch appends an EMPTY segment (the
    // bucket-partitioned write produces no files — the schema'd
    // read-back must still build its empty sidecar)...
    val junk = spark.range(9100L, 9105L).select(col("id").as("doc_id"),
      lit("image/png").as("media_type"),
      lit(Array[Byte](1, 2, 3)).as("payload"))
    Multimodal.phashIndexAppend(junk, idx)
    // ...and serving across the mixed segment chain still answers
    val probe = media.where(col("doc_id") < 60)
      .select((col("doc_id") + 950000L).as("doc_id"),
        col("media_type"), col("payload"))
    assert(Multimodal.phashNearDupServe(spark, idx, probe)
      .count() > 0L, "self-probe must match the indexed images")
    // fully tombstone the index, then compact: applying tombstones
    // physically must work even when NOTHING survives
    Multimodal.phashIndexDelete(spark, idx,
      media.where(col("doc_id") < 60).select(col("doc_id")))
    assert(Multimodal.phashIndexCompact(spark, idx) >= 1)
    assert(Multimodal.phashNearDupServe(spark, idx, probe)
      .count() === 0L, "an emptied index must serve empty, not crash")
  }

  test("the audio fingerprint index rides the same banded protocol: " +
    "append equals rebuild, maintenance entry points apply verbatim, " +
    "deletes mask and compact physically") {
    val am = Multimodal.syntheticMedia(
      Tables(spark, "/root/testdata/sf0.001").documents.toDF()
        .where(col("doc_id") < 450)).localCheckpoint()
    def serve(idx: String): Array[String] =
      Multimodal.audioDupServe(spark, idx,
          am.where(col("doc_id") % 7 === 0))
        .collect().map(_.toString).sorted
    val idx = freshDir("ahash_life")
    Multimodal.audioIndexWrite(
      am.where(col("doc_id") % 7 >= 1 && col("doc_id") % 7 <= 3), idx)
    Multimodal.audioIndexAppend(am.where(col("doc_id") % 7 >= 4), idx)
    val fresh = freshDir("ahash_fresh")
    Multimodal.audioIndexWrite(am.where(col("doc_id") % 7 =!= 0), fresh)
    val rows = serve(idx)
    assert(rows.nonEmpty, "the audio fixture must be non-vacuous")
    assert(rows.sameElements(serve(fresh)),
      "audio write+append must serve identically to a rebuild")
    // the batch-key route: Int.MaxValue must not wrap the probe's +1
    // negative, and the keyed fallback (localKeyLimit = 1) serves the
    // default-cap rows too
    Seq(Int.MaxValue, 1).foreach { limit =>
      assert(Multimodal.audioDupServe(spark, idx,
          am.where(col("doc_id") % 7 === 0), localKeyLimit = limit)
        .collect().map(_.toString).sorted.sameElements(rows),
        s"audio route at localKeyLimit = $limit != default")
    }
    // exact-match contract: every served pair is hamming 0 and the
    // pair really does share the fingerprint (self-consistency with
    // the batch operator's exact blocking)
    assert(Multimodal.audioDupServe(spark, idx,
        am.where(col("doc_id") % 7 === 0))
      .collect().forall(_.getAs[Long]("hamming") == 0L))
    // the phash-named maintenance doors serve any banded root, the
    // audio one included: delete a doc_a that currently answers,
    // compact, serve identical
    val victim = rows.head.stripPrefix("[").split(",")(0).toLong
    Multimodal.phashIndexDelete(spark, idx,
      spark.range(victim, victim + 1).select(col("id").as("doc_id")))
    val afterDel = serve(idx)
    assert(!afterDel.exists(_.startsWith(s"[$victim,")),
      "tombstoned audio doc must leave the serve immediately")
    assert(Multimodal.phashIndexCompact(spark, idx) >= 1)
    assert(serve(idx).sameElements(afterDel),
      "compaction changed the audio serve")
    // the stats card reads the compacted sidecars the same way twice
    assert(Multimodal.phashIndexStats(spark, idx).collect()
      .map(_.toString).sorted.sameElements(
        Multimodal.phashIndexStats(spark, idx).collect()
          .map(_.toString).sorted),
      "phashIndexStats must read the same sidecars identically")
  }

  test("an indexed template-image cluster answers through its hub " +
    "under the cap, and a tombstoned hub re-routes to the smallest " +
    "live image") {
    // 200 byte-identical images (distinct doc_ids, one payload):
    // every band bucket holds all 200, far past cap 64 — an uncapped
    // serve would fan each batch image out to all of them
    val payload = media.where(col("doc_id") === 0)
      .select(col("payload")).head.getAs[Array[Byte]](0)
    val cluster = spark.range(200L).select(col("id").as("doc_id"),
      lit("image/png").as("media_type"), lit(payload).as("payload"))
    val batch = spark.range(9000L, 9010L).select(col("id").as("doc_id"),
      lit("image/png").as("media_type"), lit(payload).as("payload"))
    val idx = freshDir("phash_cap")
    Multimodal.phashIndexWrite(cluster, idx)
    val out = Multimodal.phashNearDupServe(spark, idx, batch,
      bucketCap = 64).collect()
    assert(out.length === 10,
      s"capped serve emitted ${out.length} pairs; expected one hub " +
        "pair per batch image")
    assert(out.forall(r => r.getAs[Long]("doc_a") == 0L &&
        r.getAs[Long]("hamming") == 0L),
      "cluster answers must route through the hub at hamming 0")
    // dead hub: tombstone doc 0 — the bucket must answer through
    // doc 1, not silently answer nothing until compaction
    Multimodal.phashIndexDelete(spark, idx,
      spark.range(1L).select(col("id").as("doc_id")))
    val rerouted = Multimodal.phashNearDupServe(spark, idx, batch,
      bucketCap = 64).collect()
    assert(rerouted.length === 10 &&
        rerouted.forall(r => r.getAs[Long]("doc_a") == 1L),
      "a tombstoned hub must re-route to the smallest live doc")
  }

  test("an index whose committed segments are ALL physically empty " +
    "still compacts (explicit read schema beats inference) and the " +
    "stats door refuses a legacy segment with guidance, not a raw " +
    "path error") {
    // all-undecodable batches write ZERO parquet files per segment;
    // with fresh tombstones on top, compaction used to crash on
    // 'unable to infer schema' — the one read in the family that
    // still inferred
    val junkA = spark.range(5L).select(col("id").as("doc_id"),
      lit("image/png").as("media_type"),
      lit(Array[Byte](1, 2, 3)).as("payload"))
    val junkB = spark.range(5L, 9L).select(col("id").as("doc_id"),
      lit("image/png").as("media_type"),
      lit(Array[Byte](9, 9)).as("payload"))
    val idx = freshDir("phash_allempty")
    Multimodal.phashIndexWrite(junkA, idx)
    Multimodal.phashIndexAppend(junkB, idx)
    Multimodal.phashIndexDelete(spark, idx,
      spark.range(2L).select(col("id").as("doc_id")))
    assert(Multimodal.phashIndexCompact(spark, idx) >= 1,
      "two empty segments + tombstones must compact, not crash")
    assert(Multimodal.phashNearDupServe(spark, idx,
        media.where(col("doc_id") < 30)).count() === 0L,
      "the compacted empty index must serve empty")
    assert(Multimodal.phashIndexStats(spark, idx).count() === 0L)
    // legacy-segment guidance: drop the compacted segment's _pstats
    // sidecar and the stats door must name the repair
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx, "bands/seg=0/_pstats"),
      true)
    val e = intercept[IllegalArgumentException] {
      Multimodal.phashIndexStats(spark, idx).count()
    }
    assert(e.getMessage.contains("rebuild or compact the index"),
      s"expected the guided sidecar refusal, got: ${e.getMessage}")
  }
}
