package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Stage.PinOps
import graft.sources.JsonSource

/** EP1 — the collector (dags/spotify/curl_spotify_tracker.py:402-732)
  * as a composed batch job: nested play-event docs arrive (fetched
  * driver-side or dropped as JSON files — see [[JsonSource]]), new
  * catalog entries are discovered set-wise, and every zone is merged
  * idempotently.
  *
  * The reference's per-id Mongo point lookups (S5, :80-100) become one
  * left-anti join per catalog; its replace_one upserts (S6) become
  * keep-newest merges. Everything is a single pass over the batch —
  * no driver-side loops, no per-record round trips.
  */
object IngestJob {

  final case class RawZone(
      plays: DataFrame, // raw listening events, keyed (track_id, played_at)
      trackCatalog: DataFrame, // one row per track_id, newest wins
      playLedger: DataFrame, // per-batch counts (batch_execution_log)
      nextSeq: Long) // next ingestion sequence number (no recount needed)

  /** Deterministic in-batch collapse: one row per key. Survivor order:
    * the given recency columns DESCENDING first (newest metadata wins,
    * matching the reference's replace_one last-write semantics), then
    * the row content hash as a total-order tie-break — replays of the
    * same batch always keep the same row (plain dropDuplicates keeps
    * an arbitrary one). */
  private def collapse(df: DataFrame, keys: Seq[String],
      recency: Seq[String] = Seq.empty): DataFrame = {
    val order = recency.map(col(_).desc) :+
      md5(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** One collector run over a batch of nested docs. The merge version
    * is the strictly-increasing sequence carried in RawZone — an
    * explicit long, NOT the batch-id string (lexicographic order breaks
    * past "b9") and not a ledger recount (which would re-execute the
    * whole ledger lineage every batch). */
  def run(state: Option[RawZone], rawDocs: DataFrame,
      batchId: String, ledgerPath: Option[String] = None,
      ledgerKeyCol: String = "track_id"): RawZone = {
    val seq = state.map(_.nextSeq).getOrElse(1L)
    val flatAll = JsonSource.flatten(rawDocs)
      .withColumn("ingest_batch", lit(seq))
    // the forget-ledger front door composes FIRST when supplied: a
    // forgotten key must be dropped before ANY zone (plays, catalog,
    // ledger counts) sees it — [[Forget.forgottenFilter]]'s
    // re-admission guard, wired here so composing it is not left to
    // the caller
    val flat = ledgerPath.fold(flatAll)(
      Forget.forgottenFilter(flatAll, _, ledgerKeyCol))

    // S6: plays merge keyed (track_id, played_at) — replays are no-ops.
    // The batch is collapsed deterministically first so within-batch
    // duplicates (which share the same ingest_batch version) cannot
    // make the merge outcome depend on evaluation order.
    val flatDedup = collapse(flat, Seq("track_id", "played_at"))
    val plays = state match {
      case Some(s) => Sinks.upsertKeepNewest(
        s.plays, flatDedup, Seq("track_id", "played_at"), "ingest_batch")
      case None => flatDedup
    }

    // S5+S7: catalog sync — one row per track, newest metadata wins.
    // newest-in-batch metadata wins (played_at is the recency signal),
    // mirroring the reference's sequential replace_one upserts
    val batchCatalog = collapse(
      flat.select(col("track_id"), col("played_at"), col("track_name"),
        col("artist_name"), col("album_name"), col("duration_ms"),
        col("popularity"), col("ingest_batch")),
      Seq("track_id"), recency = Seq("played_at"))
      .drop("played_at")
    val catalog = state match {
      case Some(s) => Sinks.upsertKeepNewest(
        s.trackCatalog, batchCatalog, Seq("track_id"), "ingest_batch")
      case None => batchCatalog
    }

    // batch_execution_log analog (:683-691)
    val ledgerRow = flat.agg(
        count(lit(1)).as("records_seen"),
        countDistinct(col("track_id")).as("unique_tracks"))
      .select(lit(batchId).as("batch_id"), col("records_seen"),
        col("unique_tracks"))
    val ledger = state.map(_.playLedger.unionByName(ledgerRow))
      .getOrElse(ledgerRow)

    // Truncate lineage on the carried zones, as EtlJob.run does: each
    // zone is merged onto the previous one, so unpinned the next run's
    // writes would re-read and re-merge every earlier drop (O(N^2)
    // across N drops). The pins are LAZY (Stage.pinnedLazy) so the
    // caller's zone write fills them and no extra job runs. Deferring
    // the fill is safe: a drop's files are immutable once read, and
    // the forget-ledger's segment list was fixed when this call
    // planned the filter above, so a later fill sees the same input.
    RawZone(plays.pinnedLazy, catalog.pinnedLazy, ledger.pinnedLazy,
      seq + 1)
  }

  /** S2's payload landing — merge batch track-details docs
    * ([[graft.sources.JsonSource.readTrackDetails]]) into the track
    * catalog. The reference builds a track_detail doc per response
    * entry and replace_one-upserts it (curl_spotify_tracker.py:
    * 482-510); here the merge is PER FIELD, not whole-row: a detail
    * field wins only when PRESENT, so a sparse response (the real API
    * omits artists/album for local tracks) can never null out
    * known-good catalog metadata, while present fields are
    * authoritative (the fan-out ran AFTER the plays that referenced
    * these tracks). Unknown tracks INSERT fresh entries with the
    * shared Unknown-Artist/Album backstops; enriched and inserted
    * rows are stamped with this call's ingest sequence, untouched
    * rows keep theirs.
    *
    * `details` must be ONE fan-out run's responses (the collector
    * drops each run into its own directory): within a call the
    * in-batch collapse has no recency signal beyond the deterministic
    * content-hash tie-break; ACROSS calls newest-wins holds because
    * each call stamps a fresh sequence. */
  def enrichCatalog(zone: RawZone, details: DataFrame): RawZone = {
    val seq = zone.nextSeq
    // a non-null details struct with a NULL id (a malformed API entry
    // the reader's null-ENTRY filter cannot see) would full-outer-join
    // on the null key and insert a junk track_id=NULL catalog row with
    // backstopped fields — drop it here, where every field projection
    // below is keyed by that id
    val det = collapse(
      details.where(col("id").isNotNull).select(
        col("id").as("track_id"),
        col("name").as("d_track_name"),
        try_element_at(col("artists"), lit(1)).getField("name")
          .as("d_artist_name"),
        col("album.name").as("d_album_name"),
        col("duration_ms").as("d_duration_ms"),
        col("popularity").as("d_popularity"),
        lit(1).as("d_hit")),
      Seq("track_id"))
    val merged = zone.trackCatalog
      .join(det, Seq("track_id"), "full_outer")
      .select(
        col("track_id"),
        coalesce(col("d_track_name"), col("track_name"))
          .as("track_name"),
        coalesce(col("d_artist_name"), col("artist_name"),
          lit(JsonSource.UnknownArtist)).as("artist_name"),
        coalesce(col("d_album_name"), col("album_name"),
          lit(JsonSource.UnknownAlbum)).as("album_name"),
        coalesce(col("d_duration_ms"), col("duration_ms"))
          .as("duration_ms"),
        coalesce(col("d_popularity"), col("popularity"), lit(0))
          .as("popularity"),
        when(col("d_hit").isNotNull, lit(seq))
          .otherwise(col("ingest_batch")).as("ingest_batch"))
    // lazily pinned for the reasons given in [[run]]; a details
    // drop's files are immutable too
    zone.copy(trackCatalog = merged.pinnedLazy, nextSeq = seq + 1)
  }
}
