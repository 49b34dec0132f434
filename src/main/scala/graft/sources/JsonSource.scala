package graft.sources

import graft.operators.Stage.PinOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion source for the reference's raw zone (SURVEY.md §2.1
  * S1-S3): nested listening-history JSON documents, declared-schema
  * read + P1 flattening projection.
  *
  * The reference fetches from a REST API driver-side and stores nested
  * docs in Mongo (dags/spotify/curl_spotify_tracker.py:486-594); the
  * Spark-native form is "JSON dropped in a directory" read with an
  * explicit schema (no inference pass over 100 TB) — the same files
  * work for `spark.read` (batch) and `spark.readStream`
  * (Trigger.AvailableNow incremental).
  */
object JsonSource {

  /** Schema of one play event doc (curl_spotify_tracker.py:574-594):
    * declared, never inferred. */
  val listeningSchema: StructType = StructType(Seq(
    StructField("track_id", StringType),
    StructField("played_at", TimestampType),
    StructField("track_info", StructType(Seq(
      StructField("name", StringType),
      StructField("artists", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType))))),
      StructField("album", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType)))),
      StructField("duration_ms", LongType),
      StructField("explicit", BooleanType),
      StructField("popularity", IntegerType)))),
    StructField("batch_info", StructType(Seq(
      StructField("batch_id", StringType),
      StructField("collected_at", TimestampType))))))

  /** Batch read of a directory of JSON-lines docs. */
  def readListening(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(listeningSchema).json(path)

  /** Schema of one raw recently-played API RESPONSE envelope
    * (spotify_client.py:260-262 reads `data['items']`): the collector
    * drops the response document VERBATIM — provenance-preserving —
    * and Spark, not the collector, does the unwrapping. */
  val responseSchema: StructType = StructType(Seq(
    StructField("items", ArrayType(listeningSchema))))

  /** Read a drop directory of raw response envelopes and explode to
    * the per-event doc shape [[readListening]] yields — the declared-
    * schema read + explode stays distributed and codegen'd; the
    * driver-side collector never parses a byte of JSON. */
  def readResponses(spark: SparkSession, path: String): DataFrame =
    explodeEntries(spark.read.schema(responseSchema).json(path), "items")

  /** The ONE envelope unwrap shared by every response reader (plain
    * and audited, S1 listening / S2 details / S3 features): explode
    * the payload array, drop NULL entries (the API's placeholder for
    * unknown ids — the reference's `if track:` guard), project the
    * entry fields. If the projection ever changes (say, carrying an
    * envelope provenance column through), every reader moves
    * together. */
  private def explodeEntries(envelopes: DataFrame,
      field: String): DataFrame =
    envelopes
      .select(explode(col(field)).as("e"))
      .where(col("e").isNotNull)
      .select(col("e.*"))

  /** One track entry as the details and search endpoints serve it —
    * shared by [[tracksResponseSchema]] and [[searchResponseSchema]]
    * so the two payload shapes cannot drift. */
  private val trackEntrySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("duration_ms", LongType),
    StructField("explicit", BooleanType),
    StructField("popularity", IntegerType),
    StructField("artists", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType))))),
    StructField("album", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType))))))

  /** Schema of one batch track-details RESPONSE envelope (S2;
    * curl_spotify_tracker.py:291-301 reads `response['tracks']`,
    * :484-508 projects the detail doc). Array entries may be NULL —
    * the API returns null for unknown ids, which the reference
    * filters with `if track:` (:485). */
  val tracksResponseSchema: StructType = StructType(Seq(
    StructField("tracks", ArrayType(trackEntrySchema))))

  /** Read a drop directory of track-details response envelopes into
    * per-track detail rows; null entries (unknown ids) are dropped
    * like the reference's `if track:` guard. */
  def readTrackDetails(spark: SparkSession, path: String): DataFrame =
    explodeEntries(
      spark.read.schema(tracksResponseSchema).json(path), "tracks")

  /** Schema of one batch artist-profiles RESPONSE envelope (S2;
    * curl_spotify_tracker.py:303-320 reads `response['artists']`,
    * :517-533 projects the profile doc). */
  val artistsResponseSchema: StructType = StructType(Seq(
    StructField("artists", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("genres", ArrayType(StringType)),
      StructField("popularity", IntegerType),
      StructField("followers", StructType(Seq(
        StructField("total", LongType))))))))))

  /** Read a drop directory of artist-profile envelopes into per-artist
    * rows; null entries dropped. */
  def readArtistProfiles(spark: SparkSession, path: String): DataFrame =
    explodeEntries(
      spark.read.schema(artistsResponseSchema).json(path), "artists")

  /** Schema of one batch album-catalog RESPONSE envelope (S2;
    * curl_spotify_tracker.py:322-339 reads `response['albums']` — the
    * 20-id cap endpoint — :536-556 projects the album doc). */
  val albumsResponseSchema: StructType = StructType(Seq(
    StructField("albums", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("album_type", StringType),
      StructField("release_date", StringType),
      StructField("total_tracks", IntegerType),
      StructField("label", StringType),
      StructField("popularity", IntegerType),
      StructField("artists", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType)))))))))))

  /** Read a drop directory of album-catalog envelopes into per-album
    * rows; null entries dropped. */
  def readAlbumCatalog(spark: SparkSession, path: String): DataFrame =
    explodeEntries(
      spark.read.schema(albumsResponseSchema).json(path), "albums")

  /** Schema of one audio-features RESPONSE envelope (S3;
    * spotify_client.py:300-321 reads `data['audio_features']` — the
    * array carries null entries for ids without features). */
  val audioFeaturesResponseSchema: StructType = StructType(Seq(
    StructField("audio_features", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("danceability", DoubleType),
      StructField("energy", DoubleType),
      StructField("valence", DoubleType),
      StructField("tempo", DoubleType),
      StructField("loudness", DoubleType),
      StructField("speechiness", DoubleType),
      StructField("acousticness", DoubleType),
      StructField("instrumentalness", DoubleType),
      StructField("liveness", DoubleType)))))))

  /** Read a drop directory of audio-features envelopes into per-track
    * feature rows, null entries dropped. */
  def readAudioFeatures(spark: SparkSession, path: String): DataFrame =
    explodeEntries(
      spark.read.schema(audioFeaturesResponseSchema).json(path),
      "audio_features")

  /** Schema of one search RESPONSE envelope (S3;
    * spotify_client.py:359-397: the collector drops the whole result
    * object verbatim). Track search results arrive under a `tracks`
    * PAGING object — items plus the offset/limit/total/next cursor
    * fields, which ingestion keeps for resumable paging. */
  val searchResponseSchema: StructType = StructType(Seq(
    StructField("tracks", StructType(Seq(
      StructField("href", StringType),
      StructField("items", ArrayType(trackEntrySchema)),
      StructField("limit", IntegerType),
      StructField("offset", IntegerType),
      StructField("total", IntegerType),
      StructField("next", StringType))))))

  /** Read a drop directory of search-response envelopes into
    * per-track result rows (the paging wrapper unwraps to its items;
    * null entries dropped like every other envelope reader). */
  def readSearchTracks(spark: SparkSession, path: String): DataFrame =
    explodeEntries(
      spark.read.schema(searchResponseSchema).json(path), "tracks.items")

  /** Audited S3 twin of [[readSearchTracks]] — a search envelope that
    * parses but carries no `tracks.items` paging object is quarantine
    * material like every other envelope failure. */
  def readSearchTracksAudited(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) =
    auditedEnvelopeRead(spark, path, searchResponseSchema, "tracks.items")

  /** Schema of one user-profile doc (S3; spotify_client.py:344-357:
    * the `/me` response dropped verbatim — one JSON doc per fetch,
    * no envelope array to unwrap). */
  val userProfileSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("display_name", StringType),
    StructField("email", StringType),
    StructField("country", StringType),
    StructField("product", StringType),
    StructField("followers", StructType(Seq(
      StructField("total", LongType))))))

  /** Read a drop directory of `/me` profile docs. */
  def readUserProfiles(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(userProfileSchema).json(path)

  /** [[responseSchema]] plus the PERMISSIVE-mode corrupt-record
    * capture column. */
  val auditedResponseSchema: StructType =
    responseSchema.add(StructField("_corrupt_record", StringType))

  /** Audited envelope read: (exploded item docs, quarantined envelope
    * lines). An envelope is quarantined when it fails to parse OR
    * parses without an `items` array — a truncated collector write
    * usually still parses as valid-JSON-prefix garbage, and a plain
    * explode would silently drop it from the batch (the ingestion
    * equivalent of data loss). Same one-parse localCheckpoint
    * rationale as [[quarantine]]. */
  def readResponsesAudited(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) =
    auditedEnvelopeRead(spark, path, responseSchema, "items")

  /** Audited S2 twin of [[readTrackDetails]]. */
  def readTrackDetailsAudited(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) =
    auditedEnvelopeRead(spark, path, tracksResponseSchema, "tracks")

  /** The ONE audited envelope read behind every `*Audited` reader:
    * (exploded entry rows, quarantined envelope lines). An envelope
    * is quarantined when it fails to parse OR parses without its
    * payload array; NULL array ENTRIES are not quarantine material —
    * they are the API's documented answer for unknown ids and are
    * dropped by [[explodeEntries]]. */
  private def auditedEnvelopeRead(spark: SparkSession, path: String,
      envSchema: StructType, field: String): (DataFrame, DataFrame) = {
    val raw = spark.read
      .schema(envSchema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .pinned
    val good = explodeEntries(raw
      .where(col("_corrupt_record").isNull && col(field).isNotNull),
      field)
    val bad = raw.where(col("_corrupt_record").isNotNull ||
      col(field).isNull)
    (good, bad)
  }

  /** [[listeningSchema]] plus the PERMISSIVE-mode corrupt-record
    * capture column. */
  val auditedSchema: StructType =
    listeningSchema.add(StructField("_corrupt_record", StringType))

  /** Audited read: malformed documents are QUARANTINED, not silently
    * nulled — at ingestion scale a collector bug or a truncated upload
    * must surface as rows in a reject table, never as silent data
    * loss. PERMISSIVE mode keeps the batch alive (one bad doc must not
    * fail a 100 TB load) and captures each unparseable line verbatim
    * in `_corrupt_record`. */
  def readListeningAudited(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(auditedSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Split an audited read into (parsed, quarantined). The input is
    * pinned (Stage.pinned) first: Spark refuses queries whose referenced
    * columns are only the corrupt-record column of a live JSON scan,
    * and materializing once also means both sides come from ONE parse
    * of the input instead of two. */
  def quarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    val m = raw.pinned
    (m.where(col("_corrupt_record").isNull).drop("_corrupt_record"),
      m.where(col("_corrupt_record").isNotNull))
  }

  /** Catalog backstop sentinels — shared by [[flatten]] and the
    * details merge (graft.operators.IngestJob.enrichCatalog) so the
    * two catalog-row producers cannot drift on the defaults. */
  val UnknownArtist = "Unknown Artist"
  val UnknownAlbum = "Unknown Album"

  /** P1 flattening (daily_etl_pipeline.py:159-183): first artist only,
    * Unknown-Artist/Album defaults, explicit=false / popularity=0
    * backstops — all dot-path column expressions, no UDFs. */
  def flatten(raw: DataFrame): DataFrame =
    raw.select(
      col("track_id"),
      col("played_at"),
      col("track_info.name").as("track_name"),
      coalesce(try_element_at(col("track_info.artists"), lit(1))
        .getField("name"), lit(UnknownArtist)).as("artist_name"),
      coalesce(col("track_info.album.name"), lit(UnknownAlbum))
        .as("album_name"),
      col("track_info.duration_ms").as("duration_ms"),
      coalesce(col("track_info.explicit"), lit(false)).as("explicit"),
      coalesce(col("track_info.popularity"), lit(0)).as("popularity"),
      col("batch_info.batch_id").as("batch_id"))
}
