package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.operators.IngestJob
import graft.sources.{Collector, HttpFetch, IngestClient, JsonSource}

/** S1-S3 over a REAL socket: an in-process `com.sun.net.httpserver`
  * stub plays the API (recently-played pages, batch track details,
  * audio features, a 429 with Retry-After, a flaky 500), and the full
  * collector path runs end-to-end — [[HttpFetch]] transport ->
  * [[IngestClient]] retry/pacing/fan-out -> raw response envelopes
  * dropped verbatim -> [[JsonSource.readResponses]] declared-schema
  * explode -> [[IngestJob.run]] raw-zone MERGE — with no external
  * network. Protocol provenance:
  * reference/src/spotify/spotify_client.py:195-236 (retry ladder),
  * :260-262 (items unwrap), :310-311 (id caps per batch call).
  */
class HttpIngestSpec extends SparkSpec {
  import spark.implicits._

  private def doc(trackId: String, playedAt: String, name: String): String =
    s"""{"track_id":"$trackId","played_at":"$playedAt","track_info":
       |{"name":"$name","artists":[{"id":"a1","name":"Artist $trackId"}],
       |"album":{"id":"al1","name":"Album $trackId"},"duration_ms":200000,
       |"explicit":false,"popularity":40},
       |"batch_info":{"batch_id":"b1","collected_at":"2024-01-01T00:00:00Z"}}"""
      .stripMargin.replace("\n", "")

  private def respond(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (bytes.isEmpty) ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  test("S1-S3 end-to-end: socket fetch -> retries -> drop zone -> MERGE") {
    val playedCalls = new AtomicInteger(0)
    // handlers run on the server's single dispatcher thread (null
    // executor) and the client is single-threaded: plain buffers
    val trackCalls = ArrayBuffer[Seq[String]]()
    val featureCalls = ArrayBuffer[Seq[String]]()

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // S1: page of recently-played. FIRST attempt is rate-limited with
    // a Retry-After hint; the SECOND throws a retryable 500; only the
    // third succeeds — the full reference retry ladder on one socket.
    server.createContext("/v1/me/player/recently-played", ex => {
      playedCalls.incrementAndGet() match {
        case 1 => respond(ex, 429, "", Map("Retry-After" -> "2"))
        case 2 => respond(ex, 500, """{"error":"upstream"}""")
        case _ => respond(ex, 200,
          s"""{"items":[${doc("t1", "2024-01-01T10:00:00Z", "One")},
             |${doc("t2", "2024-01-01T11:00:00Z", "Two")},
             |${doc("t1", "2024-01-01T10:00:00Z", "One")}]}"""
            .stripMargin.replace("\n", ""))
      }
    })
    def ids(ex: HttpExchange): Seq[String] =
      Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").collectFirst {
          case kv if kv.startsWith("ids=") =>
            kv.drop(4).split(",").toSeq.filter(_.nonEmpty)
        }.getOrElse(Seq.empty)
    // S2: batch track details, <= 50 ids per call; ids prefixed "nx"
    // answer NULL like the real API does for unknown ids
    server.createContext("/v1/tracks", ex => {
      val got = ids(ex); trackCalls += got
      respond(ex, 200, s"""{"tracks":[${got.map(i =>
        if (i.startsWith("nx")) "null"
        else s"""{"id":"$i","popularity":50}""").mkString(",")}]}""")
    })
    // S2: artist profiles (<= 50) and album catalog (<= 20 — the
    // distinctive small cap), same null convention for nx ids
    val artistCalls = ArrayBuffer[Seq[String]]()
    val albumCalls = ArrayBuffer[Seq[String]]()
    server.createContext("/v1/artists", ex => {
      val got = ids(ex); artistCalls += got
      respond(ex, 200, s"""{"artists":[${got.map(i =>
        if (i.startsWith("nx")) "null"
        else s"""{"id":"$i","name":"Artist $i","genres":["g1"],
           |"popularity":30,"followers":{"total":1000}}"""
          .stripMargin.replace("\n", "")).mkString(",")}]}""")
    })
    server.createContext("/v1/albums", ex => {
      val got = ids(ex); albumCalls += got
      respond(ex, 200, s"""{"albums":[${got.map(i =>
        if (i.startsWith("nx")) "null"
        else s"""{"id":"$i","name":"Album $i","album_type":"album",
           |"release_date":"2024-01-01","total_tracks":10,
           |"label":"L","popularity":20,
           |"artists":[{"id":"a1","name":"A"}]}"""
          .stripMargin.replace("\n", "")).mkString(",")}]}""")
    })
    // S3: audio features, <= 100 ids per call, same null convention
    server.createContext("/v1/audio-features", ex => {
      val got = ids(ex); featureCalls += got
      respond(ex, 200, s"""{"audio_features":[${got.map(i =>
        if (i.startsWith("nx")) "null"
        else s"""{"id":"$i","tempo":120.0}""").mkString(",")}]}""")
    })
    server.setExecutor(null)
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

    try {
      val slept = ArrayBuffer[Long]()
      val policy = IngestClient.RetryPolicy(maxRetries = 3,
        baseDelayMs = 1000L, minIntervalMs = 100L)

      // ---- S1: paced, retried fetch of the raw response envelope ----
      val envelope = IngestClient.withRetries(policy, slept += _)(
        _ => HttpFetch.get(s"$base/me/player/recently-played?limit=50"))
      // the 429's Retry-After hint (2 s) and the 500's exponential
      // backoff (2^1 * base after consuming the rate-limit attempt)
      // were both honored over the real socket
      assert(slept.toSeq == Seq(2000L, 2000L), slept)
      assert(playedCalls.get() == 3)

      // drop the envelope VERBATIM — provenance-preserving raw zone
      val drop = Files.createTempDirectory("graft_http_drop")
      Files.write(drop.resolve("page-0.json"),
        envelope.getBytes(StandardCharsets.UTF_8))

      // ---- declared-schema explode + raw-zone MERGE ----
      val rawDocs = JsonSource.readResponses(spark, drop.toString)
      val zone = IngestJob.run(None, rawDocs, "b1")
      // 3 items, 1 in-batch duplicate -> 2 plays, 2 catalog rows
      assert(zone.plays.count() == 2)
      assert(zone.trackCatalog.count() == 2)
      // replaying the same drop is a no-op on plays (S6 idempotence)
      val replay = IngestJob.run(Some(zone), rawDocs, "b1-replay")
      assert(replay.plays.count() == 2)

      // ---- S2: batch-details fan-out over the catalog's ids ----
      // the catalog is collector-scale (reference ingests <= 600
      // events/day); collecting its id column is the documented
      // driver-side control plane, not a data-path collect
      val catalogIds = zone.trackCatalog.select("track_id")
        .orderBy("track_id").as[String].collect().toSeq
      // three "nx" ids exercise the null-entry drop end-to-end
      val manyIds = catalogIds ++ (1 to 120).map(i => s"x$i") ++
        (1 to 3).map(i => s"nx$i")
      val knownIds = manyIds.filterNot(_.startsWith("nx"))
      var t = 0L
      val detailPages =
        IngestClient.fanout(manyIds, batchSize = 50, policy,
          now = () => { t += 10; t }, sleep = slept += _)(chunk =>
          HttpFetch.get(s"$base/tracks?ids=${chunk.mkString(",")}"))
      assert(trackCalls.size == 3) // 125 ids / 50 per call
      assert(trackCalls.forall(_.size <= 50))
      assert(trackCalls.flatten.sorted == manyIds.sorted)

      // ---- S2 payload lands: envelopes dropped verbatim, details
      // merged into the catalog (unknown tracks insert, known tracks
      // update with the authoritative metadata) ----
      val detailsDrop = Files.createTempDirectory("graft_http_details")
      detailPages.zipWithIndex.foreach { case (page, i) =>
        Files.write(detailsDrop.resolve(s"details-$i.json"),
          page.getBytes(StandardCharsets.UTF_8))
      }
      val details = JsonSource.readTrackDetails(spark, detailsDrop.toString)
      assert(details.count() == knownIds.length) // nx nulls dropped
      val enriched = IngestJob.enrichCatalog(replay, details)
      assert(enriched.trackCatalog.count() == knownIds.length)
      // the fixture serves popularity 50; the listening docs carried
      // 40 — a PRESENT detail field must win for the known tracks...
      val cat = enriched.trackCatalog
        .select("track_id", "popularity", "track_name", "artist_name")
        .collect()
        .map(r => r.getString(0) -> (r.getInt(1),
          Option(r.getString(2)), r.getString(3))).toMap
      assert(cat("t1")._1 == 50 && cat("t2")._1 == 50)
      // ...while fields the sparse response OMITS (name/artists) keep
      // the known-good catalog metadata instead of nulling it out
      assert(cat("t1")._2.contains("One"), cat("t1").toString)
      assert(cat("t1")._3 == "Artist t1")
      // detail-only tracks insert with the shared backstops
      assert(cat("x7")._1 == 50 && cat("x7")._2.isEmpty)
      assert(cat("x7")._3 == JsonSource.UnknownArtist)
      assert(enriched.nextSeq == replay.nextSeq + 1)

      // ---- S3: audio-features fan-out, 100-id cap, payload landed
      // in a keyed features table (the reference stores features per
      // track id — spotify_client.py:300-321) ----
      val featurePages =
        IngestClient.fanout(manyIds, batchSize = 100, policy,
          now = () => { t += 10; t }, sleep = slept += _)(chunk =>
          HttpFetch.get(s"$base/audio-features?ids=${chunk.mkString(",")}"))
      assert(featureCalls.size == 2)
      assert(featureCalls.forall(_.size <= 100))
      val featuresDrop = Files.createTempDirectory("graft_http_feat")
      featurePages.zipWithIndex.foreach { case (page, i) =>
        Files.write(featuresDrop.resolve(s"features-$i.json"),
          page.getBytes(StandardCharsets.UTF_8))
      }
      val feats = JsonSource.readAudioFeatures(spark, featuresDrop.toString)
      assert(feats.count() == knownIds.length)
      assert(feats.where($"tempo" === 120.0).count() == knownIds.length)
      // replays of the same drop stay idempotent through the generic
      // keyed merge (one row per track id, newest version wins)
      val featTable = graft.operators.Sinks.upsertKeepNewest(
        feats.withColumn("v", lit(1L)),
        feats.withColumn("v", lit(2L)), Seq("id"), "v")
      assert(featTable.count() == knownIds.length)

      // ---- S2: artist (<= 50) and album (<= 20) fan-outs, payloads
      // landed through the declared-schema readers ----
      val artistPages =
        IngestClient.fanout(manyIds, batchSize = 50, policy,
          now = () => { t += 10; t }, sleep = slept += _)(chunk =>
          HttpFetch.get(s"$base/artists?ids=${chunk.mkString(",")}"))
      assert(artistCalls.size == 3 && artistCalls.forall(_.size <= 50))
      val albumPages =
        IngestClient.fanout(manyIds, batchSize = 20, policy,
          now = () => { t += 10; t }, sleep = slept += _)(chunk =>
          HttpFetch.get(s"$base/albums?ids=${chunk.mkString(",")}"))
      assert(albumCalls.size == 7) // 125 ids / 20 per call
      assert(albumCalls.forall(_.size <= 20))

      val artistsDrop = Files.createTempDirectory("graft_http_artists")
      artistPages.zipWithIndex.foreach { case (p, i) =>
        Files.write(artistsDrop.resolve(s"a-$i.json"),
          p.getBytes(StandardCharsets.UTF_8))
      }
      val artists =
        JsonSource.readArtistProfiles(spark, artistsDrop.toString)
      assert(artists.count() == knownIds.length)
      assert(artists.where($"followers.total" === 1000L).count() ==
        knownIds.length)

      val albumsDrop = Files.createTempDirectory("graft_http_albums")
      albumPages.zipWithIndex.foreach { case (p, i) =>
        Files.write(albumsDrop.resolve(s"al-$i.json"),
          p.getBytes(StandardCharsets.UTF_8))
      }
      val albums = JsonSource.readAlbumCatalog(spark, albumsDrop.toString)
      assert(albums.count() == knownIds.length)
      assert(albums.where($"total_tracks" === 10).count() ==
        knownIds.length)

      // ---- a fetch that never recovers surfaces the terminal error --
      val dead = intercept[IngestClient.Retryable](
        IngestClient.withRetries(
          IngestClient.RetryPolicy(maxRetries = 1), slept += _)(
          _ => HttpFetch.get(s"$base/no-such-endpoint")))
      assert(dead.getMessage.contains("HTTP 404"))
    } finally server.stop(0)
  }

  test("a transport failure MID-BODY is retryable, not fatal") {
    // 200 status, then the connection dies during the body: the
    // server announces more bytes than it writes, so the client's
    // read hits a premature EOF AFTER the status line was accepted.
    // That is the same transient failure as a pre-status reset and
    // must consume a retry, not kill the collector run.
    val calls = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/flaky", ex => {
      if (calls.incrementAndGet() == 1) {
        ex.sendResponseHeaders(200, 1000L) // promises 1000 bytes...
        ex.getResponseBody.write(
          "oops".getBytes(StandardCharsets.UTF_8)) // ...delivers 4
        ex.close()
      } else respond(ex, 200, """{"ok":true}""")
    })
    server.setExecutor(null)
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1/flaky"
      val got = IngestClient.withRetries(
        IngestClient.RetryPolicy(maxRetries = 2), _ => ())(
        _ => HttpFetch.get(url))
      assert(got == """{"ok":true}""")
      assert(calls.get() == 2)
    } finally server.stop(0)
  }

  test("truncated envelopes are quarantined, not silently dropped") {
    val drop = Files.createTempDirectory("graft_audit_drop")
    val good = s"""{"items":[${doc("t9", "2024-01-02T09:00:00Z", "Nine")}]}"""
    // a crashed collector write: valid JSON prefix, no items array
    val truncated = """{"item"""
    // parses fine but carries no items — still not a silent no-op
    val itemless = """{"status":"ok"}"""
    Files.write(drop.resolve("pages.json"),
      s"$good\n$truncated\n$itemless".getBytes(StandardCharsets.UTF_8))
    val (docs, rejects) =
      JsonSource.readResponsesAudited(spark, drop.toString)
    assert(docs.count() == 1)
    assert(docs.collect()(0).getAs[String]("track_id") == "t9")
    // BOTH failure shapes land in the reject frame for the ops table
    assert(rejects.count() == 2)

    // the S2 audited twin applies the same discipline, and a NULL
    // array entry is NOT quarantine material (it is the API's answer
    // for an unknown id) — only the envelope failures are
    val detDrop = Files.createTempDirectory("graft_audit_details")
    Files.write(detDrop.resolve("pages.json"),
      ("""{"tracks":[{"id":"t1","popularity":9},null]}""" + "\n" +
        """{"trac""" + "\n" + """{"status":"ok"}""")
        .getBytes(StandardCharsets.UTF_8))
    val (dets, detRejects) =
      JsonSource.readTrackDetailsAudited(spark, detDrop.toString)
    assert(dets.count() == 1)
    assert(detRejects.count() == 2)

    // the search twin quarantines on the NESTED paging object: a
    // parseable envelope without tracks.items is a failure, a null
    // item inside a healthy envelope is not
    val searchDrop = Files.createTempDirectory("graft_audit_search")
    Files.write(searchDrop.resolve("pages.json"),
      ("""{"tracks":{"items":[{"id":"s1"},null],"total":2}}""" + "\n" +
        """{"track""" + "\n" + """{"tracks":{"total":0}}""")
        .getBytes(StandardCharsets.UTF_8))
    val (hits, searchRejects) =
      JsonSource.readSearchTracksAudited(spark, searchDrop.toString)
    assert(hits.count() == 1)
    assert(hits.collect()(0).getAs[String]("id") == "s1")
    assert(searchRejects.count() == 2)
  }

  test("auth failures are fatal, not retried, without a token manager") {
    val calls = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/me", ex => {
      calls.incrementAndGet()
      respond(ex, 401, """{"error":"bad token"}""")
    })
    server.setExecutor(null)
    server.start()
    try {
      val url =
        s"http://127.0.0.1:${server.getAddress.getPort}/v1/me"
      intercept[IngestClient.AuthRejected](
        IngestClient.withRetries(
          IngestClient.RetryPolicy(maxRetries = 3), _ => ())(
          _ => HttpFetch.get(url)))
      // fatal on FIRST sight — the retry budget must not be spent on
      // a rejected token; surviving a 401 takes the EXPLICIT
      // withTokenRefresh envelope, never the generic backoff loop
      assert(calls.get() == 1)
    } finally server.stop(0)
  }

  test("OAuth refresh: expired token -> 401 -> ONE refresh -> replay") {
    // The reference's token protocol (spotify_client.py:91-236) over a
    // real socket: the token endpoint issues rotating tokens on the
    // refresh-token grant; the data endpoint serves ONLY the current
    // token. The collector must survive a mid-run expiry with exactly
    // one refresh + replay, refresh PROACTIVELY inside the 5-minute
    // expiry guard band, and die on a 401 that survives a refresh.
    val tokenCalls = new AtomicInteger(0)
    val dataCalls = new AtomicInteger(0)
    val granted = ArrayBuffer[String]()
    @volatile var live = "" // the one token the data endpoint accepts
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/token", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      granted += body
      // the grant must carry Basic credentials and the refresh token
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      if (auth == null || !auth.startsWith("Basic ") ||
          !body.contains("grant_type=refresh_token"))
        respond(ex, 400, """{"error":"invalid_request"}""")
      else {
        val n = tokenCalls.incrementAndGet()
        live = s"tok-$n"
        respond(ex, 200,
          s"""{"access_token":"tok-$n","token_type":"Bearer","expires_in":3600}""")
      }
    })
    server.createContext("/v1/data", ex => {
      dataCalls.incrementAndGet()
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      if (auth == s"Bearer $live") respond(ex, 200, """{"ok":true}""")
      else respond(ex, 401, """{"error":"expired"}""")
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      var clockMs = 0L
      val tokens = new IngestClient.TokenManager(
        () => IngestClient.refreshAccessToken(s"$base/api/token",
          "client-id", "client-secret", "refresh-tok"),
        now = () => clockMs)
      val policy = IngestClient.RetryPolicy(maxRetries = 3)
      def fetchData(): String =
        IngestClient.withRetries(policy, _ => ())(_ =>
          IngestClient.withTokenRefresh(tokens)(tok =>
            HttpFetch.get(s"$base/v1/data",
              Map("Authorization" -> s"Bearer $tok"))))

      // first call: no cached token -> refresh grant -> fetch
      assert(fetchData() == """{"ok":true}""")
      assert(tokens.refreshes == 1 && dataCalls.get() == 1)
      // cached token reused — no second grant
      assert(fetchData() == """{"ok":true}""")
      assert(tokens.refreshes == 1 && dataCalls.get() == 2)
      // the grant body carried the credentials exactly once per grant
      assert(granted.forall(_.contains("refresh_token=refresh-tok")))

      // server-side revocation (rotation): cached token now 401s ->
      // exactly one refresh + one replay, not a backoff loop
      live = "revoked-elsewhere"
      assert(fetchData() == """{"ok":true}""")
      assert(tokens.refreshes == 2)
      assert(dataCalls.get() == 4) // the 401'd attempt + the replay

      // proactive refresh: inside the 5-minute guard band of the
      // 3600 s lifetime the manager refreshes WITHOUT waiting for a
      // 401 (spotify_client.py:103 refreshes 5 min early)
      clockMs += (3600L - 299L) * 1000L
      assert(fetchData() == """{"ok":true}""")
      assert(tokens.refreshes == 3)
      assert(dataCalls.get() == 5) // no 401'd attempt this time

      // a 401 that SURVIVES a refresh is fatal: credentials, not expiry
      live = "never-matches"
      server.removeContext("/api/token")
      server.createContext("/api/token", ex => {
        tokenCalls.incrementAndGet()
        respond(ex, 200,
          """{"access_token":"also-wrong","expires_in":3600}""")
      })
      intercept[IngestClient.AuthRejected](fetchData())

      // a refresh grant REJECTED by the auth server is fatal too —
      // the reference raises SpotifyAuthError (spotify_client.py:150)
      server.removeContext("/api/token")
      server.createContext("/api/token", ex =>
        respond(ex, 200, """{"error":"invalid_grant"}"""))
      clockMs += 4000L * 1000L // force the next bearer() to refresh
      val bad = intercept[IngestClient.AuthRejected](fetchData())
      assert(bad.getMessage.contains("no access_token"))
    } finally server.stop(0)
  }

  test("S3 search + user profile: fetched, dropped verbatim, read back") {
    val queries = ArrayBuffer[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/search", ex => {
      queries += Option(ex.getRequestURI.getRawQuery).getOrElse("")
      respond(ex, 200,
        """{"tracks":{"href":"/v1/search?q=x","items":[
          |{"id":"s1","name":"Hit One","popularity":80,
          | "artists":[{"id":"a1","name":"A"}],
          | "album":{"id":"al1","name":"Al"}},
          |{"id":"s2","name":"Hit Two","popularity":70,
          | "artists":[{"id":"a2","name":"B"}],
          | "album":{"id":"al2","name":"Bl"}},
          |null],
          |"limit":20,"offset":0,"total":123,
          |"next":"/v1/search?q=x&offset=20"}}"""
          .stripMargin.replace("\n", ""))
    })
    server.createContext("/v1/me", ex => respond(ex, 200,
      """{"id":"u1","display_name":"Listener","email":"u@example.com",
        |"country":"TW","product":"premium","followers":{"total":7}}"""
        .stripMargin.replace("\n", "")))
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val policy = IngestClient.RetryPolicy(maxRetries = 2)

      // the query survives percent-encoding round-trip: spaces and &
      // cannot smuggle extra params (spotify_client.py:359-385 passes
      // q/type/limit; requests does the encoding there)
      val url = IngestClient.searchUrl(base, "dance & cry", limit = 20)
      val envelope =
        IngestClient.withRetries(policy, _ => ())(_ => HttpFetch.get(url))
      assert(queries.head == "q=dance+%26+cry&type=track&limit=20")
      intercept[IllegalArgumentException](
        IngestClient.searchUrl(base, "x", limit = 51))

      val drop = Files.createTempDirectory("graft_http_search")
      Files.write(drop.resolve("page-0.json"),
        envelope.getBytes(StandardCharsets.UTF_8))
      val hits = JsonSource.readSearchTracks(spark, drop.toString)
      // null entries dropped; item fields + shared track shape land
      assert(hits.count() == 2)
      assert(hits.where($"popularity" === 80).select("name")
        .collect()(0).getString(0) == "Hit One")
      // the paging cursor survives the verbatim drop for resumption
      val page = spark.read.schema(JsonSource.searchResponseSchema)
        .json(drop.toString).select("tracks.total", "tracks.next")
        .collect()(0)
      assert(page.getInt(0) == 123 && page.getString(1).endsWith("offset=20"))

      // /me: one profile doc, dropped verbatim, declared-schema read
      val me =
        IngestClient.withRetries(policy, _ => ())(_ =>
          HttpFetch.get(s"$base/me"))
      val meDrop = Files.createTempDirectory("graft_http_me")
      Files.write(meDrop.resolve("me.json"),
        me.getBytes(StandardCharsets.UTF_8))
      val prof = JsonSource.readUserProfiles(spark, meDrop.toString)
      assert(prof.count() == 1)
      val row = prof.select("id", "display_name", "followers.total")
        .collect()(0)
      assert(row.getString(0) == "u1" && row.getString(1) == "Listener" &&
        row.getLong(2) == 7L)
    } finally server.stop(0)
  }

  test("Collector facade: token refresh + retry + caps compose on every endpoint") {
    // the SpotifyClient-equivalent surface: one facade, every call
    // running transport inside refresh inside the retry ladder. The
    // server rotates the live token MID-fan-out, so a chunk deep in a
    // batched call hits 401 and must refresh + replay without
    // disturbing the chunk sequence.
    val tokenCalls = new AtomicInteger(0)
    @volatile var live = ""
    @volatile var revokeAtCall = -1 // one-shot server-side revocation
    val dataCalls = new AtomicInteger(0)
    val served = ArrayBuffer[String]() // paths actually served (200s)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/token", ex => {
      val n = tokenCalls.incrementAndGet()
      live = s"tok-$n"
      respond(ex, 200,
        s"""{"access_token":"tok-$n","expires_in":3600}""")
    })
    def dataCtx(path: String, body: HttpExchange => String): Unit =
      server.createContext(path, ex => {
        if (dataCalls.incrementAndGet() == revokeAtCall)
          live = "rotated-away" // revoked ONCE, mid-run
        val auth = ex.getRequestHeaders.getFirst("Authorization")
        if (auth != s"Bearer $live")
          respond(ex, 401, """{"error":"expired"}""")
        else {
          served += ex.getRequestURI.getPath
          respond(ex, 200, body(ex))
        }
      })
    def ids(ex: HttpExchange): Seq[String] =
      Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").collectFirst {
          case kv if kv.startsWith("ids=") =>
            kv.drop(4).split(",").toSeq.filter(_.nonEmpty)
        }.getOrElse(Seq.empty)
    dataCtx("/v1/me/player/recently-played", _ => """{"items":[]}""")
    val trackChunks = ArrayBuffer[Int]()
    dataCtx("/v1/tracks", ex => {
      trackChunks += ids(ex).size
      s"""{"tracks":[${ids(ex).map(i =>
        s"""{"id":"$i"}""").mkString(",")}]}"""
    })
    val albumChunks = ArrayBuffer[Int]()
    dataCtx("/v1/albums", ex => {
      albumChunks += ids(ex).size
      s"""{"albums":[]}"""
    })
    dataCtx("/v1/search", _ => """{"tracks":{"items":[]}}""")
    dataCtx("/v1/me", _ => """{"id":"u1"}""")
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val tokenUrl =
        s"http://127.0.0.1:${server.getAddress.getPort}/api/token"
      var clockMs = 0L
      val slept = ArrayBuffer[Long]()
      val client = new Collector(base,
        new IngestClient.TokenManager(
          () => IngestClient.refreshAccessToken(tokenUrl, "id", "secret",
            "refresh"),
          now = () => clockMs),
        IngestClient.RetryPolicy(maxRetries = 2),
        now = () => { clockMs += 10; clockMs },
        sleep = slept += _)

      // cursoered S1 call: first touch mints the token
      assert(client.recentlyPlayed(limit = 10,
        after = Some(1700000000000L)) == """{"items":[]}""")
      assert(tokenCalls.get() == 1)
      intercept[IllegalArgumentException](client.recentlyPlayed(limit = 0))

      // revoke the token at the 3rd chunk of the track fan-out: it
      // 401s mid-run, refreshes ONCE, replays, and the chunk
      // sequence completes in order
      revokeAtCall = dataCalls.get() + 3
      val pages = client.trackDetails((1 to 130).map(i => s"t$i"))
      assert(pages.length == 3) // 130 ids / 50 per call
      assert(trackChunks.toSeq == Seq(50, 50, 30)) // served in order
      assert(tokenCalls.get() == 2) // exactly one refresh

      // album cap is 20; pacing is CLIENT-WIDE (the reference's
      // instance-level last_request_time): every attempt after the
      // first tops the interval up to the 100ms floor — across
      // chunks, endpoints, and the 401 replay alike
      assert(client.albumCatalog((1 to 45).map(i => s"al$i")).length == 3)
      assert(albumChunks.toSeq == Seq(20, 20, 5))
      assert(slept.count(s => s > 0L && s <= 100L) >= 6, slept)

      // the S3 singles ride the same envelope — and are paced against
      // the PREVIOUS endpoint's attempts, not a per-call clock
      val sleptBefore = slept.size
      assert(client.search("x") == """{"tracks":{"items":[]}}""")
      assert(client.userProfile() == """{"id":"u1"}""")
      assert(slept.drop(sleptBefore).count(s => s > 0L && s <= 100L) == 2,
        slept.drop(sleptBefore))
      val paths = served.toSet
      assert(paths == Set("/v1/me/player/recently-played", "/v1/tracks",
        "/v1/albums", "/v1/search", "/v1/me"))

      // api_stats analog, counted PER ATTEMPT like the reference:
      // 10 attempts (1 played + 4 tracks incl. the 401'd chunk +
      // 3 albums + search + me), 9 successes, the 401 as the one
      // failure, both grants on the books
      assert(client.stats == Collector.Stats(
        totalRequests = 10, successfulRequests = 9, failedRequests = 1,
        rateLimitHits = 0, tokenRefreshes = 2))
      assert(math.abs(client.stats.successRate - 0.9) < 1e-9)
    } finally server.stop(0)
  }

  test("Retry-After hardening: negative deltas clamp, HTTP-dates parse") {
    val calls = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/limited", ex => {
      calls.incrementAndGet() match {
        // a malformed NEGATIVE delta must clamp to 0, not escape
        // withRetries as Thread.sleep's IllegalArgumentException
        case 1 => respond(ex, 429, "", Map("Retry-After" -> "-7"))
        // the RFC 9110 HTTP-date form must parse to a relative wait
        case 2 =>
          val at = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME
            .format(java.time.ZonedDateTime.now(
              java.time.ZoneOffset.UTC).plusHours(1))
          respond(ex, 429, "", Map("Retry-After" -> at))
        case _ => respond(ex, 200, """{"ok":true}""")
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1/limited"
      val slept = ArrayBuffer[Long]()
      val got = IngestClient.withRetries(
        IngestClient.RetryPolicy(maxRetries = 3), slept += _)(
        _ => HttpFetch.get(url))
      assert(got == """{"ok":true}""")
      assert(slept.size == 2)
      assert(slept(0) == 0L, s"negative Retry-After must clamp: $slept")
      // one hour out, minus test latency; anything in (55, 60] min is
      // a correct relative parse, and crucially it is NOT the 1 s
      // unparseable-fallback
      assert(slept(1) > 55L * 60 * 1000 && slept(1) <= 60L * 60 * 1000,
        s"HTTP-date Retry-After must parse relatively: $slept")
    } finally server.stop(0)
  }

  test("Collector facade: artist profiles and audio features fan out " +
    "under their per-call id caps") {
    // S2 artists <= 50 ids per call, S3 audio features <= 100
    // (curl_spotify_tracker.py:303-320, spotify_client.py:300-321)
    val chunks = ArrayBuffer[(String, Seq[String])]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/token", ex => respond(ex, 200,
      """{"access_token":"tok","expires_in":3600}"""))
    Seq("/v1/artists", "/v1/audio-features").foreach { path =>
      server.createContext(path, ex => {
        val ids = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst {
            case kv if kv.startsWith("ids=") => kv.drop(4).split(",").toSeq
          }.getOrElse(Seq.empty)
        chunks += path -> ids
        respond(ex, 200, s"""{"n":${ids.size}}""")
      })
    }
    server.setExecutor(null)
    server.start()
    try {
      val port = server.getAddress.getPort
      val client = new Collector(s"http://127.0.0.1:$port/v1",
        new IngestClient.TokenManager(() => IngestClient
          .refreshAccessToken(s"http://127.0.0.1:$port/api/token", "id",
            "secret", "refresh"), now = () => 0L),
        sleep = _ => ())
      val artistIds = (1 to 120).map(i => s"ar$i")
      assert(client.artistProfiles(artistIds) ==
        Seq("""{"n":50}""", """{"n":50}""", """{"n":20}"""))
      val featureIds = (1 to 230).map(i => s"t$i")
      assert(client.audioFeatures(featureIds) ==
        Seq("""{"n":100}""", """{"n":100}""", """{"n":30}"""))
      assert(chunks.map(_._1).toSeq == Seq.fill(3)("/v1/artists") ++
        Seq.fill(3)("/v1/audio-features"))
      assert(chunks.flatMap(_._2).toSeq == artistIds ++ featureIds,
        "every id is fetched once, in order")
    } finally server.stop(0)
  }
}
