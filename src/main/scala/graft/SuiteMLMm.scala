package graft

import org.apache.spark.sql.functions.{col, count, lit, round}

import graft.operators.{EmbeddingOps, Multimodal}

import graft.SuiteMLShared._

/** Multimodal registry rows (decode, resize, frame sampling,
  * image/audio fingerprints).
  *
  * Split from the single SuiteML registry purely mechanically (the
  * per-family files concatenate into [[SuiteML.all]]); shared CTE
  * helpers live in [[SuiteMLShared]].
  */
private[graft] object SuiteMLMm {

  /** The aHash band replay CTE — four 16-bit bands per image from the
    * [[graft.operators.Multimodal.syntheticPngMedia]] pixel formulas
    * (w = 3 + id%6, h = 2 + id%5; the same formulas mm_image_hash
    * replays), shared by every phash-index oracle so the SQL cannot
    * drift between rows. Exposes `bits` (doc_id, j, b) for the exact
    * Hamming verify and `bands` (doc_id, band_idx, band_val). */
  private val PhashBandsCte =
    """ids AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h
      |        FROM documents),
      |pxx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM ids),
      |px AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM pxx),
      |g AS (SELECT doc_id, y*8 + x AS j,
      |        (((doc_id*29 + ((x*w)//8)*5 + ((y*h)//8)*17) % 256)
      |       + ((doc_id*13 + ((x*w)//8)*19 + ((y*h)//8)*7) % 256)
      |       + ((doc_id*37 + ((x*w)//8)*2 + ((y*h)//8)*11) % 256)) // 3 AS gv
      |      FROM px),
      |m AS (SELECT doc_id, SUM(gv) // 64 AS mean FROM g GROUP BY 1),
      |bits AS (SELECT g.doc_id, g.j,
      |           CASE WHEN g.gv > m.mean THEN 1 ELSE 0 END AS b
      |         FROM g JOIN m ON m.doc_id = g.doc_id),
      |bands AS (SELECT doc_id, CAST(j // 16 AS INT) AS band_idx,
      |            CAST(SUM(b * (1 << (j % 16))) AS BIGINT) AS band_val
      |          FROM bits GROUP BY 1, 2)""".stripMargin

  /** Exact-Hamming verify + threshold tail over a `cand` (doc_a,
    * doc_b) CTE — the shared back half of every phash serve oracle. */
  private val PhashHammingTail =
    """ham AS (SELECT c.doc_a, c.doc_b,
      |          CAST(SUM(CASE WHEN xa.b <> xb.b THEN 1 ELSE 0 END)
      |            AS BIGINT) AS hamming
      |        FROM cand c
      |        JOIN bits xa ON xa.doc_id = c.doc_a
      |        JOIN bits xb ON xb.doc_id = c.doc_b AND xb.j = xa.j
      |        GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  /** Build-once mutation history for the pinned phash serve: build
    * over doc_id % 7 IN (1, 2, 3), CAPTURE (`phash_asof:$d`), append
    * the % 7 IN (4, 5, 6) slice, delete the % 7 = 1 AND % 3 = 0 docs
    * — the pinned serve must answer from the capture-time view alone
    * (appends invisible, deletions not yet tombstoned). */
  private def phashAsofIdx(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    cachedIndex("phash_asof", d, p => {
      val media = Multimodal.syntheticPngMedia(docs(s, d))
      Multimodal.phashIndexWrite(
        media.where(col("doc_id") % 7 >= 1 && col("doc_id") % 7 <= 3), p)
      snapCache.put(s"phash_asof:$d", EmbeddingOps.indexSnapshot(s, p))
      Multimodal.phashIndexAppend(
        media.where(col("doc_id") % 7 >= 4), p)
      Multimodal.phashIndexDelete(s, p,
        media.where(col("doc_id") % 7 === 1 && col("doc_id") % 3 === 0)
          .select(col("doc_id")))
      snapCache.put(s"phash_asof_end:$d",
        EmbeddingOps.indexSnapshot(s, p))
    })

  val rows: Seq[Q] = Seq(

    // ---- multimodal: PERSISTED image near-dup index + serving -----------
    // (the segment protocol closing over the image modality: the
    // % 7 != 0 slice of the synthetic PNG corpus is hashed and indexed
    // once, the % 7 = 0 slice arrives as an ingest batch and asks for
    // its near-dups among the indexed images — banded-key candidates,
    // exact 64-bit Hamming verify, both replayed codec-free from the
    // pixel formulas; ~489 pairs at the gate scale, non-vacuous)
    Q("mm_phash_serve",
      (s, d) => {
        val media = Multimodal.syntheticPngMedia(docs(s, d))
        val dir = cachedIndex("phash", d, p =>
          Multimodal.phashIndexWrite(
            media.where(col("doc_id") % 7 =!= 0), p))
        Multimodal.phashNearDupServe(s, dir,
          media.where(col("doc_id") % 7 === 0))
      },
      Some(s"""WITH $PhashBandsCte,
        |ba AS (SELECT * FROM bands WHERE doc_id % 7 <> 0),
        |bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM ba a JOIN bb b USING (band_idx, band_val)),
        |$PhashHammingTail""".stripMargin),
      bench = true),

    // ---- multimodal: image near-dup serving off a MERGED index -----------
    // (the banded family's shard-parallel build: the indexed
    // % 7 != 0 slice builds as TWO independent roots split by parity,
    // bandedIndexMerge stitches them — `_pstats` sidecars riding the
    // renamed segments — and merged serving must equal the single
    // build, so the oracle is mm_phash_serve's SQL verbatim)
    Q("mm_phash_merged",
      (s, d) => {
        val media = Multimodal.syntheticPngMedia(docs(s, d))
        val dir = cachedIndex("phash_merged", d, p => {
          val stored = media.where(col("doc_id") % 7 =!= 0)
          val shards = (0 until 2).map { i =>
            val sp = s"$p/shard$i"
            Multimodal.phashIndexWrite(
              stored.where(col("doc_id") % 2 === i), sp)
            sp
          }
          Multimodal.bandedIndexMerge(s, shards, s"$p/ix")
        })
        Multimodal.phashNearDupServe(s, s"$dir/ix",
          media.where(col("doc_id") % 7 === 0))
      },
      Some(s"""WITH $PhashBandsCte,
        |ba AS (SELECT * FROM bands WHERE doc_id % 7 <> 0),
        |bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM ba a JOIN bb b USING (band_idx, band_val)),
        |$PhashHammingTail""".stripMargin)),

    // ---- multimodal: the phash index's bucket-balance card --------------
    // (merged `_pstats` sidecars — bn sums and hub mins across
    // committed segments must equal the window over all indexed rows)
    Q("mm_phash_stats",
      (s, d) => {
        val media = Multimodal.syntheticPngMedia(docs(s, d))
        val dir = cachedIndex("phash", d, p =>
          Multimodal.phashIndexWrite(
            media.where(col("doc_id") % 7 =!= 0), p))
        Multimodal.phashIndexStats(s, dir)
      },
      Some(s"""WITH $PhashBandsCte
        |SELECT band_idx, band_val, COUNT(*) AS bn,
        |       MIN(doc_id) AS hub
        |FROM bands WHERE doc_id % 7 <> 0 GROUP BY 1, 2""".stripMargin)),

    // ---- multimodal: snapshot-pinned phash serving ----------------------
    // (the image twin of dedup_serve_asof: the token pins the build
    // slice — the appended % 7 IN (4, 5, 6) docs are invisible and
    // the post-capture deletions not yet applied, so the oracle's
    // indexed side is exactly the build slice)
    Q("mm_phash_serve_asof",
      // materialized inside withSnapshotRetry (the dedup_serve_asof
      // discipline): the race-absorption contract rides the gate
      (s, d) => EmbeddingOps.withSnapshotRetry(() => {
        val dir = phashAsofIdx(s, d)
        Multimodal.phashNearDupServe(s, dir,
          Multimodal.syntheticPngMedia(docs(s, d))
            .where(col("doc_id") % 7 === 0),
          asOf = Some(snapCache.get(s"phash_asof:$d"))).localCheckpoint()
      }),
      Some(s"""WITH $PhashBandsCte,
        |ba AS (SELECT * FROM bands WHERE doc_id % 7 IN (1, 2, 3)),
        |bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM ba a JOIN bb b USING (band_idx, band_val)),
        |$PhashHammingTail""".stripMargin)),

    // ---- multimodal: the index audit — what changed between two
    // pinned views (generic indexDiff over the phash family: every
    // appended image becomes visible — every doc decodes to an image
    // row here — and the post-capture deletions kill build-slice
    // keys; the shared builder keeps the replayed history in lockstep
    // with mm_phash_serve_asof) --------------------------------------
    Q("mm_phash_diff",
      (s, d) => {
        val dir = phashAsofIdx(s, d)
        EmbeddingOps.indexDiff(s, dir, "bands",
          snapCache.get(s"phash_asof:$d"),
          snapCache.get(s"phash_asof_end:$d"), keyCol = "doc_id")
      },
      Some("""SELECT doc_id, 'added' AS change FROM documents
        |WHERE doc_id % 7 >= 4
        |UNION ALL
        |SELECT doc_id, 'removed' AS change FROM documents
        |WHERE doc_id % 7 = 1 AND doc_id % 3 = 0""".stripMargin)),

    // ---- multimodal: persisted AUDIO fingerprint index + serving --------
    // (the one-band instantiation of the banded media index: the
    // % 7 != 0 audio streams index once, the % 7 = 0 streams arrive
    // as a batch and ask for exact-fingerprint duplicates among the
    // indexed ones — audioDupPairs' blocking served off the stored
    // index; 15 pairs at gate scale, replayed codec-free from the
    // WAV sample formulas)
    Q("mm_audio_serve",
      (s, d) => {
        val media = Multimodal.syntheticMedia(docs(s, d))
        val dir = cachedIndex("ahash", d, p =>
          Multimodal.audioIndexWrite(
            media.where(col("doc_id") % 7 =!= 0), p))
        Multimodal.audioDupServe(s, dir,
          media.where(col("doc_id") % 7 === 0))
      },
      Some("""WITH au AS (SELECT doc_id, 40 + doc_id % 25 AS n
        |        FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM au),
        |sv AS (SELECT doc_id, (i*16) // n AS seg,
        |         abs((doc_id*7919 + i*104729) % 65536 - 32768) AS a
        |       FROM smp),
        |se AS (SELECT doc_id, seg, CAST(SUM(a) AS BIGINT) AS e
        |       FROM sv GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total
        |       FROM se GROUP BY 1),
        |h AS (SELECT se.doc_id,
        |        CAST(SUM(CASE WHEN se.e * 16 > st.total
        |                      THEN 1 << seg ELSE 0 END) AS BIGINT) AS h
        |      FROM se JOIN st ON st.doc_id = se.doc_id GROUP BY 1),
        |ha AS (SELECT * FROM h WHERE doc_id % 7 <> 0),
        |hb AS (SELECT * FROM h WHERE doc_id % 7 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(0 AS BIGINT) AS hamming
        |FROM ha a JOIN hb b ON a.h = b.h""".stripMargin)),

    // ---- multimodal: the oversized-bucket volume cap, oracle-checked ----
    // (buckets past the cap answer exclusively through their hub
    // representative — the template-image-spam bound; cap 8 actually
    // bites at gate scale, so the hub routing itself is verified)
    Q("mm_phash_serve_capped",
      (s, d) => {
        val media = Multimodal.syntheticPngMedia(docs(s, d))
        val dir = cachedIndex("phash", d, p =>
          Multimodal.phashIndexWrite(
            media.where(col("doc_id") % 7 =!= 0), p))
        Multimodal.phashNearDupServe(s, dir,
          media.where(col("doc_id") % 7 === 0), bucketCap = 8)
      },
      Some(s"""WITH $PhashBandsCte,
        |ba AS (SELECT * FROM bands WHERE doc_id % 7 <> 0),
        |bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
        |bstat AS (SELECT band_idx, band_val, COUNT(*) AS bn,
        |            MIN(doc_id) AS hub
        |          FROM ba GROUP BY 1, 2),
        |bax AS (SELECT b.doc_id, b.band_idx, b.band_val, s.bn, s.hub
        |        FROM ba b JOIN bstat s USING (band_idx, band_val)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bax a JOIN bb b USING (band_idx, band_val)
        |         WHERE a.bn <= 8 OR a.doc_id = a.hub),
        |$PhashHammingTail""".stripMargin)),

    // ---- multimodal plumbing: binary payloads + stubbed decode ----------
    // The decode is a stub (no codecs in this environment) but it is
    // DETERMINISTIC integer arithmetic — acc[i%8] += byte; (acc%1000)
    // /1000f — so even the stub path gets a full hash-checked oracle:
    // the query surfaces each feature as its exact-integer millis
    // (round(f*1000) round-trips k/1000f exactly for k in [0,1000)),
    // because a float32 column would never bit-match the oracle's
    // float64 arithmetic. The oracle re-folds the payload bytes in SQL
    // via hex() (2 hex chars per byte, decoded with strpos — DuckDB
    // has no byte-extraction on BLOB). Array form stays the
    // extractFeatures API; float fidelity is pinned by MultimodalSpec.
    Q("mm_features",
      (s, d) => {
        val feats =
          Multimodal.extractFeatures(Multimodal.toMedia(docs(s, d)))
        val mcols = (0 until Multimodal.FeatureDim).map(i =>
          round(col("feature").getItem(i).cast("double") * 1000)
            .cast("long").as(s"m$i"))
        feats.select(col("doc_id") +: col("n_bytes") +: mcols: _*)
      },
      Some {
        val dim = Multimodal.FeatureDim
        val mcols = (0 until dim).map(i =>
          s"CAST(COALESCE(SUM(CASE WHEN (p-1) % $dim = $i THEN v END), 0)" +
            s" % 1000 AS BIGINT) AS m$i").mkString(",\n        |       ")
        s"""WITH b AS (
        |  SELECT doc_id, hex(encode(COALESCE(text, ''))) AS h,
        |         CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, h, n, unnest(generate_series(1, n)) AS p FROM b),
        |vals AS (
        |  SELECT doc_id, p,
        |         (strpos('0123456789ABCDEF', substr(h, CAST(2*p-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substr(h, CAST(2*p AS INT), 1)) - 1) AS v
        |  FROM pos)
        |SELECT b.doc_id, b.n AS n_bytes,
        |       $mcols
        |FROM b LEFT JOIN vals USING (doc_id)
        |GROUP BY b.doc_id, b.n""".stripMargin
      }),

    // ---- multimodal: REAL JDK-codec decode (BMP + WAV + stub arm) -------
    // The payloads are real files (BMP with bottom-up padded rows, WAV
    // with RIFF/fmt/data chunks) built from pure integer formulas of
    // (doc_id, position), decoded by the PLATFORM codecs
    // (javax.imageio / javax.sound.sampled), and reduced to decoded
    // pixel/sample statistics. The oracle replays the statistics from
    // the generation formulas without a codec — the match fails on any
    // misparse (row order, padding, channel order, endianness), which
    // is what makes the decode real rather than declared. s2 is
    // position-weighted on both sides: a flipped or misaligned decode
    // preserves plain sums but not it.
    Q("mm_decode",
      (s, d) => Multimodal.decodeFeatures(
        Multimodal.syntheticMedia(docs(s, d))),
      Some {
        val dim = Multimodal.FeatureDim
        s"""WITH img AS (SELECT doc_id, 4 + doc_id % 5 AS w,
        |         3 + doc_id % 4 AS h
        |       FROM documents WHERE doc_id % 3 = 0),
        |pxx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM img),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM pxx),
        |imgs AS (SELECT doc_id, 'image' AS kind,
        |           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |           CAST(w * h AS BIGINT) AS n_units,
        |           CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS s0,
        |           CAST(sum((doc_id*17 + x*11 + y*5) % 256) AS BIGINT) AS s1,
        |           CAST(sum((y*w + x + 1) * ((doc_id*23 + x*3 + y*19) % 256))
        |             AS BIGINT) AS s2
        |         FROM px GROUP BY doc_id, w, h),
        |aud AS (SELECT doc_id, 40 + doc_id % 25 AS n
        |        FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM aud),
        |sval AS (SELECT doc_id, n, i,
        |           (doc_id*7919 + i*104729) % 65536 - 32768 AS v FROM smp),
        |auds AS (SELECT doc_id, 'audio' AS kind,
        |           CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |           CAST(n AS BIGINT) AS n_units,
        |           CAST(sum(v) AS BIGINT) AS s0,
        |           CAST(sum(abs(v)) AS BIGINT) AS s1,
        |           CAST(sum((i + 1) * v) AS BIGINT) AS s2
        |         FROM sval GROUP BY doc_id, n),
        |st0 AS (SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx,
        |          CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
        |        FROM documents WHERE doc_id % 3 = 2),
        |spos AS (SELECT doc_id, hx, n, unnest(generate_series(1, n)) AS p
        |         FROM st0 WHERE n > 0),
        |sv AS (SELECT doc_id, p,
        |         (strpos('0123456789ABCDEF', substr(hx, CAST(2*p-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substr(hx, CAST(2*p AS INT), 1)) - 1) AS v
        |       FROM spos),
        |stubs AS (SELECT s.doc_id, 'stub' AS kind,
        |            CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |            s.n AS n_units,
        |            CAST(COALESCE(SUM(CASE WHEN (p-1) % $dim = 0 THEN v END), 0) % 1000 AS BIGINT) AS s0,
        |            CAST(COALESCE(SUM(CASE WHEN (p-1) % $dim = 1 THEN v END), 0) % 1000 AS BIGINT) AS s1,
        |            CAST(COALESCE(SUM(CASE WHEN (p-1) % $dim = 2 THEN v END), 0) % 1000 AS BIGINT) AS s2
        |          FROM st0 s JOIN sv USING (doc_id) WHERE s.n > 0
        |          GROUP BY s.doc_id, s.n),
        |empt AS (SELECT doc_id, 'empty' AS kind,
        |           CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |           CAST(0 AS BIGINT) AS n_units, CAST(0 AS BIGINT) AS s0,
        |           CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2
        |         FROM st0 WHERE n = 0)
        |SELECT * FROM imgs UNION ALL SELECT * FROM auds
        |UNION ALL SELECT * FROM stubs UNION ALL SELECT * FROM empt"""
          .stripMargin
      }),

    // ---- multimodal: PNG decode arm — the other JDK image codec ---------
    // Payloads are real PNGs (zlib-compressed IDAT) ENCODED by the JDK
    // writer from formula pixels and decoded back by javax.imageio;
    // the oracle replays the pixel statistics codec-free, so the match
    // verifies the full round trip through real compression.
    Q("mm_decode_png",
      (s, d) => Multimodal.decodeFeatures(
        Multimodal.syntheticPngMedia(docs(s, d))),
      Some("""WITH img AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |         2 + doc_id % 5 AS h FROM documents),
        |pxx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM img),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM pxx)
        |SELECT doc_id, 'image' AS kind,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(w * h AS BIGINT) AS n_units,
        |       CAST(sum((doc_id*29 + x*5 + y*17) % 256) AS BIGINT) AS s0,
        |       CAST(sum((doc_id*13 + x*19 + y*7) % 256) AS BIGINT) AS s1,
        |       CAST(sum((y*w + x + 1) * ((doc_id*37 + x*2 + y*11) % 256))
        |         AS BIGINT) AS s2
        |FROM px GROUP BY doc_id, w, h""".stripMargin)),

    // ---- multimodal: REAL nearest-neighbor resize — decode -> fixed
    // 8x8 raster via the integer mapping (x*w div 8, y*h div 8); the
    // oracle replays the RESIZED pixel statistics codec-free, with a
    // target-raster position weight pinning the mapping itself ------
    Q("mm_resize",
      (s, d) => Multimodal.resizeImages(
        Multimodal.syntheticPngMedia(docs(s, d))),
      Some("""WITH ids AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |         2 + doc_id % 5 AS h FROM documents),
        |pxx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM ids),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM pxx),
        |src AS (SELECT doc_id, x, y,
        |          (x * w) // 8 AS sx, (y * h) // 8 AS sy FROM px)
        |SELECT doc_id, 'image' AS kind,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       CAST(64 AS BIGINT) AS n_units,
        |       CAST(sum((doc_id*29 + sx*5 + sy*17) % 256) AS BIGINT) AS s0,
        |       CAST(sum((doc_id*13 + sx*19 + sy*7) % 256) AS BIGINT) AS s1,
        |       CAST(sum((y*8 + x + 1) * ((doc_id*37 + sx*2 + sy*11) % 256))
        |         AS BIGINT) AS s2
        |FROM src GROUP BY doc_id""".stripMargin)),

    // ---- multimodal: perceptual average-hash (aHash) of every image ----
    // (the image-modality dedup key: 8x8 nearest-neighbor gray raster,
    // bit j set when gray > integer mean, surfaced as four 16-bit
    // bands — the oracle replays hashes from the payload formulas
    // with zero codec code)
    Q("mm_image_hash",
      (s, d) => Multimodal.imageHash(
        Multimodal.syntheticPngMedia(docs(s, d))),
      Some(s"""WITH ids AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |         2 + doc_id % 5 AS h FROM documents),
        |pxx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM ids),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM pxx),
        |g AS (SELECT doc_id, y*8 + x AS j,
        |        (((doc_id*29 + ((x*w)//8)*5 + ((y*h)//8)*17) % 256)
        |       + ((doc_id*13 + ((x*w)//8)*19 + ((y*h)//8)*7) % 256)
        |       + ((doc_id*37 + ((x*w)//8)*2 + ((y*h)//8)*11) % 256)) // 3 AS gv
        |      FROM px),
        |m AS (SELECT doc_id, SUM(gv) // 64 AS mean FROM g GROUP BY 1),
        |bits AS (SELECT g.doc_id, g.j,
        |           CASE WHEN g.gv > m.mean THEN 1 ELSE 0 END AS b
        |         FROM g JOIN m ON m.doc_id = g.doc_id)
        |SELECT doc_id, 'image' AS kind,
        |${(0 to 3).map(bi =>
             s"  CAST(SUM(CASE WHEN j // 16 = $bi THEN b * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b$bi,")
             .mkString("\n")}
        |  CAST(SUM(b) AS BIGINT) AS n_set
        |FROM bits GROUP BY 1""".stripMargin)),

    // ---- multimodal: REAL decoded-domain frame sampling — every 4th
    // PCM sample of the audio arm kept, stats weighted by the KEPT
    // ordinal (pins selection and order, not just the multiset) ------
    Q("mm_frame_sample",
      (s, d) => Multimodal.sampleAudioFrames(
        Multimodal.syntheticMedia(docs(s, d))),
      Some("""WITH au AS (SELECT doc_id, 40 + doc_id % 25 AS n
        |        FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM au),
        |kept AS (SELECT doc_id, i,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS j,
        |           (doc_id*7919 + i*104729) % 65536 - 32768 AS v
        |         FROM smp WHERE i % 4 = 0)
        |SELECT doc_id, 'audio' AS kind,
        |       CAST(count(*) AS BIGINT) AS n_units,
        |       CAST(sum(v) AS BIGINT) AS s0,
        |       CAST(sum(abs(v)) AS BIGINT) AS s1,
        |       CAST(sum(j * v) AS BIGINT) AS s2
        |FROM kept GROUP BY doc_id""".stripMargin)),

    // ---- multimodal: segment-energy audio fingerprint ------------------
    // (the audio-modality dedup key: 16 contiguous PCM segments, bit
    // set when segment energy exceeds the cross-multiplied mean —
    // replayed from the WAV formulas with zero codec code)
    Q("mm_audio_hash",
      (s, d) => Multimodal.audioHash(
        Multimodal.syntheticMedia(docs(s, d))),
      Some("""WITH au AS (SELECT doc_id, 40 + doc_id % 25 AS n
        |        FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM au),
        |sv AS (SELECT doc_id, (i*16) // n AS seg,
        |         abs((doc_id*7919 + i*104729) % 65536 - 32768) AS a
        |       FROM smp),
        |se AS (SELECT doc_id, seg, CAST(SUM(a) AS BIGINT) AS e
        |       FROM sv GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total
        |       FROM se GROUP BY 1)
        |SELECT se.doc_id, 'audio' AS kind,
        |       CAST(SUM(CASE WHEN se.e * 16 > st.total
        |                     THEN 1 << seg ELSE 0 END) AS BIGINT) AS h,
        |       CAST(SUM(CASE WHEN se.e * 16 > st.total
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        |FROM se JOIN st ON st.doc_id = se.doc_id
        |GROUP BY 1""".stripMargin)),

    // ---- multimodal data-model contract: typed metadata columns ----------
    Q("mm_media_meta",
      (s, d) => Multimodal.toMedia(docs(s, d))
        .select(col("doc_id"), col("media_type"),
          col("meta.source").as("source"), col("meta.lang").as("lang"),
          col("meta.n_bytes").as("n_bytes")),
      Some("""SELECT doc_id, 'text/plain' AS media_type, source, lang,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin)),

    Q("mm_frame_counts",
      (s, d) => Multimodal.sampleFrames(Multimodal.toMedia(docs(s, d)))
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames")),
      // octet_length(encode(...)) counts UTF-8 BYTES like the binary
      // payload does (length(text) counts characters and diverges on
      // any multibyte text)
      Some("""SELECT doc_id,
        |       (CAST(octet_length(encode(text)) AS BIGINT) - 1) // 128 + 1 AS n_frames
        |FROM documents
        |WHERE octet_length(encode(text)) > 0""".stripMargin)),
  )
}
