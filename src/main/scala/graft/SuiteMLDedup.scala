package graft

import org.apache.spark.sql.functions.{col, lit, max, sum}

import graft.operators.{EmbeddingOps, Forget, TextOps}

import graft.SuiteMLShared._

/** Deduplication-family registry rows (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, winnowing, spans, groups/survivors, persisted
  * near-dup index serving, decontamination, cascade).
  *
  * Split from the single SuiteML registry purely mechanically (the
  * per-family files concatenate into [[SuiteML.all]]); shared CTE
  * helpers live in [[SuiteMLShared]].
  */
private[graft] object SuiteMLDedup {

  /** The mutation-history fixture shared by `dedup_serve_asof` and
    * `dedup_index_diff` (the text twin of SuiteMLSim's
    * asofHistoryIdx): build over doc_id % 5 IN (1, 2), CAPTURE
    * (`mh_asof:$d`), append the % 5 IN (3, 4) slice, delete the
    * % 5 = 1 AND % 3 = 0 docs, CAPTURE again (`mh_asof_end:$d`).
    * One shared builder so the two rows' replayed histories cannot
    * drift. */
  private def mhAsofIdx(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    cachedIndex("mh_asof", d, p => {
      val all = docs(s, d)
      TextOps.minhashIndexWrite(
        all.where(col("doc_id") % 5 === 1 ||
          col("doc_id") % 5 === 2), p)
      snapCache.put(s"mh_asof:$d", EmbeddingOps.indexSnapshot(s, p))
      TextOps.minhashIndexAppend(
        all.where(col("doc_id") % 5 === 3 ||
          col("doc_id") % 5 === 4), p)
      TextOps.minhashIndexDelete(s, p,
        all.where(col("doc_id") % 5 === 1 &&
          col("doc_id") % 3 === 0).select(col("doc_id")))
      snapCache.put(s"mh_asof_end:$d", EmbeddingOps.indexSnapshot(s, p))
    })

  /** The EXACT-layout mutation-history fixture (mhAsofIdx with
    * `exact = true`): build over doc_id % 5 IN (1, 2), CAPTURE
    * (`mh_exact_asof:$d`), append % 5 IN (3, 4), delete % 5 = 1 AND
    * % 3 = 0 — so the pinned EXACT serve has history to be blind
    * to. */
  private def mhExactAsofIdx(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    cachedIndex("mh_exact_asof", d, p => {
      val all = docs(s, d)
      TextOps.minhashIndexWrite(
        all.where(col("doc_id") % 5 === 1 ||
          col("doc_id") % 5 === 2), p, exact = true)
      snapCache.put(s"mh_exact_asof:$d",
        EmbeddingOps.indexSnapshot(s, p))
      TextOps.minhashIndexAppend(
        all.where(col("doc_id") % 5 === 3 ||
          col("doc_id") % 5 === 4), p)
      TextOps.minhashIndexDelete(s, p,
        all.where(col("doc_id") % 5 === 1 &&
          col("doc_id") % 3 === 0).select(col("doc_id")))
    })

  val rows: Seq[Q] = Seq(
    Q("dedup_exact",
      (s, d) => TextOps.dedupExact(docs(s, d)),
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_doc_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),

    // ---- dedup: MinHash + LSH banding + exact Jaccard verify ------------
    Q("dedup_minhash_lsh",
      (s, d) => TextOps.nearDupMinhash(docs(s, d)),
      Some(s"""WITH $MinhashPairsCte
        |SELECT doc_a, doc_b, n_common, na, nb, jaccard FROM ndup""".stripMargin),
      bench = true),

    // ---- dedup: signature-estimate vs exact-Jaccard quality row ---------
    // (per verified pair: the matching-component fraction the banding
    // is built on, exact permille of 16 — the measurement that
    // justifies the signature width)
    Q("dedup_minhash_estimate",
      (s, d) => TextOps.minhashEstimate(docs(s, d)),
      Some(s"""WITH $MinhashPairsCte
        |SELECT nd.doc_a, nd.doc_b, nd.jaccard,
        |  CAST(${(0 until 16).map(k =>
             s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)")
             .mkString(" + ")} AS BIGINT) AS n_match,
        |  CAST((${(0 until 16).map(k =>
             s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)")
             .mkString(" + ")}) * 1000 // 16 AS BIGINT) AS est_permille
        |FROM ndup nd JOIN sig a ON a.doc_id = nd.doc_a
        |             JOIN sig b ON b.doc_id = nd.doc_b""".stripMargin)),

    // ---- dedup: band-bucket volume accounting card ----------------------
    // (the loud-overflow half of the capped-candidate contract: per
    // band position, how many buckets exceed the cap, the member mass
    // inside them, and the exact pair volume star routing avoids.
    // cap=2 here so the card is non-vacuous at oracle scale — the
    // production default TextOps.BucketCap=64 reports all-zero on
    // these corpora, which is exactly why the uncapped minhash
    // oracles above stay bit-identical)
    Q("dedup_band_volume",
      (s, d) => TextOps.bandVolumeReport(docs(s, d), bucketCap = 2),
      Some(s"""WITH $TokCte,
        |$MinhashSigSql,
        |bstat AS (SELECT band_idx, band_hash, COUNT(*) AS bn
        |          FROM bands GROUP BY 1, 2)
        |SELECT band_idx,
        |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |       CAST(MAX(bn) AS BIGINT) AS max_bucket,
        |       CAST(SUM(CASE WHEN bn > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
        |       CAST(SUM(CASE WHEN bn > 2 THEN bn ELSE 0 END) AS BIGINT) AS overflow_docs,
        |       CAST(SUM(CASE WHEN bn > 2 THEN bn * (bn - 1) // 2 - (bn - 1) ELSE 0 END) AS BIGINT) AS pairs_avoided
        |FROM bstat GROUP BY 1""".stripMargin)),

    // ---- dedup: capped near-dup route under template spam ---------------
    // (the 100 TB scenario the cap exists for, reproduced at oracle
    // scale: even doc_ids collapse onto 23 near-identical template
    // classes — mega-buckets in every band — while odd doc_ids keep
    // their real text in small buckets. cap=3 makes both arms live:
    // template classes exceed it at every sf and route to hub stars,
    // real-text buckets (max 3 at sf0.01) keep exact all-pairs. The
    // oracle mirrors the hub-star routing with one windowed count)
    Q("dedup_minhash_capped",
      (s, d) => {
        val fx = docs(s, d).select(col("doc_id"),
          org.apache.spark.sql.functions.when(col("doc_id") % 2 === 0,
            org.apache.spark.sql.functions.concat(
              lit(TemplateSpamText + " t"),
              (col("doc_id") % 23).cast("string")))
            .otherwise(col("text")).as("text"))
        TextOps.nearDupMinhash(fx, threshold = 0.7, bucketCap = 3)
      },
      Some(s"""WITH fx AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN '$TemplateSpamText t' || CAST(doc_id % 23 AS VARCHAR)
        |       ELSE text END AS text
        |  FROM documents),
        |ds AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(ls) - 1),
        |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ls
        |          FROM fx WHERE len(string_split(text, ' ')) >= 3))),
        |$MinhashSigSql,
        |bstat AS (SELECT band_idx, band_hash, COUNT(*) AS bn,
        |                 MIN(doc_id) AS hub
        |          FROM bands GROUP BY 1, 2),
        |bx AS (SELECT b.doc_id, b.band_idx, b.band_hash, s.bn, s.hub
        |       FROM bands b JOIN bstat s USING (band_idx, band_hash)),
        |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bx a JOIN bx b USING (band_idx, band_hash)
        |  WHERE a.bn <= 3 AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT hub AS doc_a, doc_id AS doc_b FROM bx
        |  WHERE bn > 3 AND doc_id <> hub)),
        |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN ds a ON a.doc_id = c.doc_a
        |          JOIN ds b ON b.doc_id = c.doc_b AND b.s = a.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.doc_a
        |JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: persisted-index near-dup SERVING ------------------------
    // (the incremental half of minhash dedup: the corpus slice
    // doc_id % 5 != 0 is indexed once, the % 5 == 0 slice arrives as
    // an ingest batch and asks for its near-dups among the indexed
    // docs — 11/14 pairs at sf0.001/0.01, non-vacuous at both gates)
    Q("dedup_minhash_serve",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh", d, p => TextOps.minhashIndexWrite(
          all.where(col("doc_id") % 5 =!= 0), p))
        TextOps.nearDupServe(s, dir, all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin),
      bench = true),

    // ---- dedup: near-dup serving off a MERGED index ----------------------
    // (the shard-parallel build pattern driver-checked end to end:
    // the indexed % 5 != 0 slice builds as THREE independent shard
    // roots — no writer contention — which minhashIndexMerge stitches
    // into one root by manifest surgery, zero data rewrite. Merged
    // serving must equal single-root serving over the union, so the
    // oracle is dedup_minhash_serve's SQL verbatim)
    Q("dedup_minhash_merged",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_merged", d, p => {
          val stored = all.where(col("doc_id") % 5 =!= 0)
          val shards = (0 until 3).map { i =>
            val sp = s"$p/shard$i"
            TextOps.minhashIndexWrite(
              stored.where(col("doc_id") % 3 === i), sp)
            sp
          }
          TextOps.minhashIndexMerge(s, shards, s"$p/ix")
        })
        TextOps.nearDupServe(s, s"$dir/ix",
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: near-dup serving off a STREAM-INGESTED index -------------
    // (the continuous-ingestion pattern driver-checked end to end: a
    // seed build over the % 3 = 0 slice of the stored docs, then a
    // REAL bounded streaming query appends the other two slices as
    // micro-batch segments through Streams.minhashIngestSink — the
    // exactly-once foreachBatch door. Streamed serving must equal
    // single-root serving over the union, so the oracle is
    // dedup_minhash_serve's SQL verbatim)
    Q("dedup_stream_indexed",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_streamed", d, p => {
          val stored = all.where(col("doc_id") % 5 =!= 0)
          TextOps.minhashIndexWrite(
            stored.where(col("doc_id") % 3 === 0), s"$p/ix")
          streamInto(s,
            Seq(1, 2).map(i => stored.where(col("doc_id") % 3 === i)),
            p,
            (src, ckpt) => graft.streaming.Streams
              .minhashIngestSink(src, s"$p/ix", ckpt))
        })
        TextOps.nearDupServe(s, s"$dir/ix",
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: EXACT all-pairs similarity self-join ---------------------
    // (the recall-GUARANTEED member: threshold-derived prefix over a
    // global rarest-first order makes the candidate join complete, so
    // the oracle replays BRUTE FORCE — every shingle-sharing pair, no
    // prefix anywhere — and row equality is a standing machine proof
    // of the filter's completeness, not just its precision)
    Q("dedup_allpairs_exact",
      (s, d) => TextOps.allPairsExact(docs(s, d)),
      Some(s"""WITH $TokCte,
        |szs AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN szs sa ON sa.doc_id = i.doc_a
        |JOIN szs sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin),
      // benched: the exact-join shape beside the LSH row — candidate
      // volume is the prefix mass, not banded buckets
      bench = true),

    // ---- dedup: EXACT cross-corpus similarity join ------------------------
    // (allPairsExact between two corpora — the exact sibling of the
    // minhash SERVE split: the % 5 = 0 batch against the % 5 != 0
    // stored slice, prefixes on both sides under ONE shared
    // union-frequency order. Brute-force oracle, so completeness is
    // machine-proven on the cross shape too)
    Q("dedup_allpairs_join",
      (s, d) => {
        val all = docs(s, d)
        TextOps.allPairsJoin(
          all.where(col("doc_id") % 5 === 0),
          all.where(col("doc_id") % 5 =!= 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: EXACT serving from the persisted index --------------------
    // (the exact sibling of dedup_minhash_serve: the stored slice
    // builds with exact = true — inverted digest postings beside each
    // segment — and nearDupServeExact answers the batch with
    // GUARANTEED recall, where the banded serve's candidates are the
    // capped heuristic. The oracle is pure brute force over the two
    // slices — no bands, no prefix — so row equality machine-proves
    // candidate completeness of the SERVING route every round)
    Q("dedup_serve_exact",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_exact", d,
          p => TextOps.minhashIndexWrite(
            all.where(col("doc_id") % 5 =!= 0), p, exact = true))
        TextOps.nearDupServeExact(s, dir,
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin),
      // benched: the exact-serving shape beside the banded serve row —
      // candidate volume is the prefix posting mass, reads are the
      // batch prefix's (seg, pb) buckets
      bench = true),

    // ---- dedup: EXACT containment SERVING from the persisted index ---------
    // (containmentServeExact — the decontamination shape served
    // incrementally: the %5<>0 slice indexes once with exact = true,
    // and every (stored container, batch contained) pair with
    // |B∩A|/|B| >= 0.9 serves off the _posts postings; the size
    // filter prunes only the lower side, so a container 10x the
    // contained doc still qualifies where Jaccard goes blind. Pure
    // brute-force oracle — recall of the SERVING route is
    // machine-proven every round, like dedup_serve_exact.)
    Q("dedup_containment_serve",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_exact", d,
          p => TextOps.minhashIndexWrite(
            all.where(col("doc_id") % 5 =!= 0), p, exact = true))
        TextOps.containmentServeExact(s, dir,
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sb.n AS DOUBLE) AS containment
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sb.n AS DOUBLE) >= 0.9""".stripMargin)),

    // ---- dedup: PINNED exact serving (asOf) ---------------------------------
    // (the snapshot door on the recall-guaranteed route — closes the
    // family's serving matrix: live/pinned x banded/exact. The serve
    // pins the CAPTURE-time segments: the appended % 5 IN (3, 4)
    // slice and the post-capture deletions are both invisible, so the
    // oracle is pure brute force over the build slice alone. Benched
    // beside dedup_serve_exact: the asOf door must price within noise
    // of the live serve — the segment IN-filter and the epoch check
    // are the only additions.)
    Q("dedup_serve_exact_asof",
      (s, d) => EmbeddingOps.withSnapshotRetry(() => {
        val dir = mhExactAsofIdx(s, d)
        TextOps.nearDupServeExact(s, dir,
          docs(s, d).where(col("doc_id") % 5 === 0),
          asOf = Some(snapCache.get(s"mh_exact_asof:$d")))
          .localCheckpoint()
      }),
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 IN (1, 2)),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin),
      bench = true),

    // ---- dedup: PINNED containment serving (asOf) ---------------------------
    // (the snapshot door on the CONTAINMENT measure — the last cell of
    // the exact serving matrix: {jaccard, containment} x {live,
    // pinned}. A decontamination deployment pins exactly this view: a
    // training run screens every batch against the benchmark list AS
    // OF run start, so a mid-run benchmark append cannot make early
    // and late batches disagree about what was clean. Same
    // mutation-history fixture as dedup_serve_exact_asof — the
    // appended % 5 IN (3, 4) slice and the post-capture deletions are
    // both invisible, so the oracle is pure brute-force containment
    // over the build slice alone.)
    Q("dedup_containment_serve_asof",
      (s, d) => EmbeddingOps.withSnapshotRetry(() => {
        val dir = mhExactAsofIdx(s, d)
        TextOps.containmentServeExact(s, dir,
          docs(s, d).where(col("doc_id") % 5 === 0),
          asOf = Some(snapCache.get(s"mh_exact_asof:$d")))
          .localCheckpoint()
      }),
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 IN (1, 2)),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sb.n AS DOUBLE) AS containment
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sb.n AS DOUBLE) >= 0.9""".stripMargin)),

    // ---- dedup: posting-bucket health of the EXACT index -------------------
    // (the _posts sidecar's monitoring card, machine-checked per
    // SEGMENT: minhashExactStats reports per-(seg, pb) posting mass +
    // hottest digest, tombstone-aware; the oracle replays its per-seg
    // roll-up — pb is pmod(xxhash64(shingle), 64), which DuckDB
    // cannot compute, but the per-seg sums/max are bucket-invariant:
    // n_posts = live postings, n_digests = distinct live digests,
    // hot_df = the largest single-digest posting list (the worst-case
    // candidate fan-out ONE nearDupServeExact prefix digest can
    // cause). The fixture is a TWO-segment chain (doc_id % 2 picks
    // the segment) with the % 3 = 0 docs tombstoned, so per-seg
    // separation AND tombstone-awareness are both non-vacuous; the
    // per-BUCKET rows are pinned by ExactServeSpec's recomputation
    // parity.)
    Q("dedup_exact_posts_stats",
      (s, d) => {
        val all = docs(s, d)
        val stored = all.where(col("doc_id") % 5 =!= 0)
        val dir = cachedIndex("mh_exact_del", d, p => {
          TextOps.minhashIndexWrite(
            stored.where(col("doc_id") % 2 === 0), p, exact = true)
          TextOps.minhashIndexAppend(
            stored.where(col("doc_id") % 2 =!= 0), p)
          TextOps.minhashIndexDelete(s, p,
            stored.where(col("doc_id") % 3 === 0).select(col("doc_id")))
        })
        TextOps.minhashExactStats(s, dir)
          .groupBy(col("seg"))
          .agg(sum(col("n_posts")).as("n_posts"),
            sum(col("n_digests")).as("n_digests"),
            max(col("hot_df")).as("hot_df"))
      },
      Some(s"""WITH $TokCte,
        |live AS (SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END
        |                AS INTEGER) AS seg, doc_id, s
        |         FROM ds WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0),
        |per AS (SELECT seg, s, count(*) AS df FROM live GROUP BY 1, 2)
        |SELECT seg, CAST(sum(df) AS BIGINT) AS n_posts,
        |       CAST(count(*) AS BIGINT) AS n_digests,
        |       CAST(max(df) AS BIGINT) AS hot_df
        |FROM per GROUP BY seg""".stripMargin)),

    // ---- dedup: EXACT containment self-join (subset duplicates) ----------
    // (the asymmetric sibling: doc_a's shingle set >= 90%-contained
    // in doc_b's — the quoted/boilerplate-superset detector symmetric
    // Jaccard misses when the container dwarfs the contained. Oracle
    // replays brute force over ordered intersecting pairs)
    Q("dedup_containment",
      (s, d) => TextOps.containmentPairs(docs(s, d)),
      Some(s"""WITH $TokCte,
        |szs AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n AS DOUBLE) AS containment
        |FROM inter i
        |JOIN szs sa ON sa.doc_id = i.doc_a
        |JOIN szs sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n AS DOUBLE) >= 0.9""".stripMargin)),

    // ---- dedup: EXACT cross-corpus containment join -----------------------
    // (the decontamination shape: every %5=0 doc 90%-contained in a
    // %5<>0 doc — the contained-side prefix trims under container
    // frequency, the size filter drops too-small containers, and the
    // brute-force oracle machine-proves completeness on the cross
    // shape)
    Q("dedup_containment_join",
      (s, d) => {
        val all = docs(s, d)
        TextOps.containmentJoin(
          all.where(col("doc_id") % 5 === 0),
          all.where(col("doc_id") % 5 =!= 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM dsa a JOIN dsb b ON a.s = b.s GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n AS DOUBLE) AS containment
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n AS DOUBLE) >= 0.9""".stripMargin)),

    // ---- dedup: the containment-dedup ACTION ------------------------------
    // (drop every doc 90%-contained in a (size, id)-greater container;
    // mutual containment keeps the (size, id)-smaller's counterpart —
    // one greedy pass, acyclic by the strict order)
    Q("dedup_drop_contained",
      (s, d) => TextOps.dropContained(docs(s, d)),
      Some(s"""WITH $TokCte,
        |szs AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS n_common
        |          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2),
        |dropd AS (SELECT DISTINCT i.doc_a AS doc_id
        |          FROM inter i
        |          JOIN szs sa ON sa.doc_id = i.doc_a
        |          JOIN szs sb ON sb.doc_id = i.doc_b
        |          WHERE i.n_common / CAST(sa.n AS DOUBLE) >= 0.9
        |            AND (sb.n > sa.n OR (sb.n = sa.n AND i.doc_b < i.doc_a)))
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropd)""".stripMargin)),

    // ---- dedup: near-dup serving after STREAMED deletions ----------------
    // (the forget pipeline's event-driven half driver-checked: the
    // full stored slice builds, then a REAL bounded stream of
    // takedown keys tombstones the % 3 = 0 docs through
    // Streams.indexDeleteSink — serving must mask them exactly, so
    // the oracle's indexed side simply excludes them)
    Q("dedup_stream_deleted",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_sdel", d, p => {
          val stored = all.where(col("doc_id") % 5 =!= 0)
          TextOps.minhashIndexWrite(stored, s"$p/ix")
          streamInto(s,
            Seq(stored.where(col("doc_id") % 3 === 0)
              .select(col("doc_id"))),
            p,
            (src, ckpt) => graft.streaming.Streams
              .indexDeleteSink(src, s"$p/ix", ckpt))
        })
        TextOps.nearDupServe(s, s"$dir/ix",
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: near-dup serving off a TAIL-COMPACTED index --------------
    // (size-tiered maintenance driver-checked: the stored slice lands
    // as a seed build + four appends — five segments — and
    // minhashIndexCompactTail merges only the smallest three,
    // leaving the seed untouched. Serving must be identical to the
    // uncompacted chain, so the oracle is dedup_minhash_serve's SQL
    // verbatim)
    Q("dedup_tail_compacted",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh_tail", d, p => {
          val stored = all.where(col("doc_id") % 5 =!= 0)
          TextOps.minhashIndexWrite(
            stored.where(col("doc_id") % 7 < 3), s"$p/ix")
          (3 until 7).foreach(i => TextOps.minhashIndexAppend(
            stored.where(col("doc_id") % 7 === i), s"$p/ix"))
          TextOps.minhashIndexCompactTail(s, s"$p/ix", maxSegments = 3)
          ()
        })
        TextOps.nearDupServe(s, s"$dir/ix",
          all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: snapshot-pinned near-dup serving — the text twin of
    // sim_serve_asof: build over doc_id % 5 IN (1, 2), CAPTURE, append
    // the % 5 IN (3, 4) slice, delete the % 5 = 1 AND % 3 = 0 docs;
    // the pinned serve answers from the capture-time index alone, so
    // the oracle's indexed side is just the build slice ---------------
    Q("dedup_serve_asof",
      // the pinned serve MATERIALIZES inside withSnapshotRetry (the
      // localCheckpoint is the action): the race-absorption contract
      // — a swap landing mid-serve costs a retry that re-resolves to
      // the retired tree, never a wrong answer — rides the oracle
      // gate every round, not just SnapshotStateSpec
      (s, d) => EmbeddingOps.withSnapshotRetry(() => {
        val dir = mhAsofIdx(s, d)
        TextOps.nearDupServe(s, dir,
          docs(s, d).where(col("doc_id") % 5 === 0),
          asOf = Some(snapCache.get(s"mh_asof:$d"))).localCheckpoint()
      }),
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 IN (1, 2)),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin),
      // benched as THE pinned-serve row: the asOf door must price
      // within noise of the live serve (the segment IN-filter and the
      // epoch check are the only additions) — a driver-visible number,
      // not an argument
      bench = true),
    // twin of dedup_serve_asof, one per index family next to
    // sim_index_diff / text_bm25_diff: which docs did the mutations
    // between the two captures make visible (the appended % 5 IN
    // (3, 4) slice) and which did they kill (the % 5 = 1 AND % 3 = 0
    // deletions)? Only docs the index holds a row for count — the
    // MinHash index stores docs with >= 3 tokens (shingle
    // indexability), which the oracle restates as a length predicate
    Q("dedup_index_diff",
      (s, d) => {
        val dir = mhAsofIdx(s, d)
        EmbeddingOps.indexDiff(s, dir, "docs",
          snapCache.get(s"mh_asof:$d"),
          snapCache.get(s"mh_asof_end:$d"), keyCol = "doc_id")
      },
      Some("""SELECT doc_id, 'added' AS change FROM documents
        |WHERE doc_id % 5 IN (3, 4)
        |  AND len(string_split(text, ' ')) >= 3
        |UNION ALL
        |SELECT doc_id, 'removed' AS change FROM documents
        |WHERE doc_id % 5 = 1 AND doc_id % 3 = 0
        |  AND len(string_split(text, ' ')) >= 3""".stripMargin)),

    // ---- dedup: RETAINED pinned serving — the retention grace on
    // the text family, driver-checked: dedup_serve_asof's mutation
    // history plus the COMPACTION that used to expire the token; the
    // pinned serve rides the retired tree and the oracle is the same
    // capture-time (build slice) replay, unchanged -------------------
    Q("dedup_serve_retained",
      (s, d) => {
        val dir = cachedIndex("mh_ret", d, p => {
          val all = docs(s, d)
          TextOps.minhashIndexWrite(
            all.where(col("doc_id") % 5 === 1 ||
              col("doc_id") % 5 === 2), p)
          snapCache.put(s"mh_ret:$d", EmbeddingOps.indexSnapshot(s, p))
          TextOps.minhashIndexAppend(
            all.where(col("doc_id") % 5 === 3 ||
              col("doc_id") % 5 === 4), p)
          TextOps.minhashIndexDelete(s, p,
            all.where(col("doc_id") % 5 === 1 &&
              col("doc_id") % 3 === 0).select(col("doc_id")))
          require(TextOps.minhashIndexCompact(s, p) >= 1,
            "retained-serve fixture: compaction must swap the tree")
        })
        TextOps.nearDupServe(s, dir,
          docs(s, d).where(col("doc_id") % 5 === 0),
          asOf = Some(snapCache.get(s"mh_ret:$d")))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 IN (1, 2)),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: capped serve under an index-side template cluster -------
    // (the serve twin of dedup_minhash_capped: even doc_ids collapse
    // onto 23 template classes on BOTH the indexed (%5<>0) and batch
    // (%5=0) sides, so the stored buckets hold mega-clusters; cap=3
    // makes each batch doc compare against the cluster's hub instead
    // of fanning out to every stored member, while odd real-text docs
    // keep the exact small-bucket serve. The oracle mirrors the
    // stored-bucket hub filter with one grouped count)
    Q("dedup_minhash_serve_capped",
      (s, d) => {
        val fx = docs(s, d).select(col("doc_id"),
          org.apache.spark.sql.functions.when(col("doc_id") % 2 === 0,
            org.apache.spark.sql.functions.concat(
              lit(TemplateSpamText + " t"),
              (col("doc_id") % 23).cast("string")))
            .otherwise(col("text")).as("text"))
        val dir = cachedIndex("mhcap", d, p => TextOps.minhashIndexWrite(
          fx.where(col("doc_id") % 5 =!= 0), p))
        TextOps.nearDupServe(s, dir, fx.where(col("doc_id") % 5 === 0),
          bucketCap = 3)
      },
      Some(s"""WITH fx AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN '$TemplateSpamText t' || CAST(doc_id % 23 AS VARCHAR)
        |       ELSE text END AS text
        |  FROM documents),
        |ds AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(ls) - 1),
        |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ls
        |          FROM fx WHERE len(string_split(text, ' ')) >= 3))),
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |bstat AS (SELECT band_idx, band_hash, COUNT(*) AS bn,
        |                 MIN(doc_id) AS hub
        |          FROM bands_a GROUP BY 1, 2),
        |sbx AS (SELECT a.doc_id, a.band_idx, a.band_hash
        |        FROM bands_a a JOIN bstat s USING (band_idx, band_hash)
        |        WHERE s.bn <= 3 OR a.doc_id = s.hub),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM sbx x JOIN bands_b b
        |           ON x.band_idx = b.band_idx AND x.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7""".stripMargin)),

    // ---- dedup: the index's per-bucket stat sidecar, replayed -----------
    // (the serving view of the `_bstats` sidecars that make
    // nearDupServe window-free: bn/hub merged across committed
    // segments must equal a direct group-by over the indexed slice's
    // band rows — DuckDB replays exactly that)
    Q("dedup_minhash_stats",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mh", d, p => TextOps.minhashIndexWrite(
          all.where(col("doc_id") % 5 =!= 0), p))
        TextOps.minhashIndexStats(s, dir)
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |${minhashSigSliceSql("dsa", "a")}
        |SELECT band_idx, band_hash, CAST(COUNT(*) AS BIGINT) AS bn,
        |       MIN(doc_id) AS hub
        |FROM bands_a GROUP BY 1, 2""".stripMargin)),

    // ---- dedup: index serving with committed tombstones -----------------
    // (the % 7 slice of the indexed docs is deleted after the build;
    // served pairs whose indexed side is tombstoned disappear — 2/3
    // pairs masked at sf0.001/0.01, so the arm is non-vacuous)
    Q("dedup_minhash_deleted",
      (s, d) => {
        val all = docs(s, d)
        val dir = cachedIndex("mhdel", d, p => {
          TextOps.minhashIndexWrite(all.where(col("doc_id") % 5 =!= 0), p)
          TextOps.minhashIndexDelete(s, p,
            all.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
              .select(col("doc_id")))
        })
        TextOps.nearDupServe(s, dir, all.where(col("doc_id") % 5 === 0))
      },
      Some(s"""WITH $TokCte,
        |dsa AS (SELECT * FROM ds WHERE doc_id % 5 <> 0),
        |dsb AS (SELECT * FROM ds WHERE doc_id % 5 = 0),
        |${minhashSigSliceSql("dsa", "a")},
        |${minhashSigSliceSql("dsb", "b")},
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands_a a JOIN bands_b b
        |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
        |sza AS (SELECT doc_id, count(*) AS n FROM dsa GROUP BY 1),
        |szb AS (SELECT doc_id, count(*) AS n FROM dsb GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dsa x ON x.doc_id = c.doc_a
        |          JOIN dsb y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sza sa ON sa.doc_id = i.doc_a
        |JOIN szb sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7
        |  AND i.doc_a % 7 <> 0""".stripMargin)),

    // ---- curation: the forget-ledger FRONT DOOR ---------------------------
    // (the re-admission guard behind every index/state deletion: keys
    // land in a persisted append-only ledger, and the ingest/curate
    // front door anti-joins it BEFORE any artifact sees a row. The
    // doc_id % 9 slice is "forgotten"; the filter must admit exactly
    // the complement — one keyed anti-join, replayed by the oracle
    // verbatim.)
    Q("dedup_forget_filter",
      (s, d) => {
        val all = docs(s, d)
        val lg = cachedIndex("ledger", d, p => {
          Forget.ledgerInit(s, p)
          Forget.ledgerAppend(s, p,
            all.where(col("doc_id") % 9 === 0).select(col("doc_id")))
        })
        Forget.forgottenFilter(all, lg)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 9 <> 0""".stripMargin)),

    // ---- dedup: pairs -> duplicate GROUPS (connected components) --------
    Q("dedup_groups",
      (s, d) => TextOps.dupGroups(
        TextOps.nearDupMinhash(docs(s, d)).select(col("doc_a"), col("doc_b"))),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte
        |SELECT doc_id, group_id FROM grp""".stripMargin)),

    // ---- dedup: standalone n-gram Jaccard with prefix blocking ----------
    Q("dedup_ngram_jaccard",
      (s, d) => TextOps.nearDupNgramJaccard(docs(s, d)),
      Some(s"""WITH $TokCte,
        |dh AS (SELECT DISTINCT doc_id, md5(s) AS h FROM ds),
        |pref AS (SELECT doc_id, h FROM (
        |  SELECT doc_id, h,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        |  FROM dh) WHERE rn <= 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM pref a JOIN pref b USING (h)
        |         WHERE a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM dh GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |          FROM cand c
        |          JOIN dh a ON a.doc_id = c.doc_a
        |          JOIN dh b ON b.doc_id = c.doc_b AND b.h = a.h
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.doc_a
        |JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.5""".stripMargin)),

    // ---- dedup: the surviving corpus after group resolution -------------
    Q("dedup_survivors",
      (s, d) => TextOps.dedupSurvivors(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |losers AS (SELECT doc_id FROM grp WHERE doc_id <> group_id)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)),

    // ---- dedup: cluster-size histogram (the dedup data card) ------------
    Q("dedup_cluster_stats",
      (s, d) => TextOps.dupClusterStats(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |gs AS (SELECT group_id, count(*) AS cluster_size
        |       FROM grp GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM gs GROUP BY 1""".stripMargin)),

    // ---- dedup: per-source funnel report — the data-card companion
    // of the survivor rows (what dedup REMOVED per source) -----------
    Q("dedup_report",
      (s, d) => TextOps.dedupReport(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |losers AS (SELECT doc_id FROM grp WHERE doc_id <> group_id),
        |dt AS (SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         (doc_id IN (SELECT doc_id FROM losers)) AS dropped
        |       FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dropped,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN dropped THEN n_tok ELSE 0 END) AS BIGINT)
        |         AS tokens_dropped,
        |       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS drop_rate
        |FROM dt GROUP BY source""".stripMargin)),

    // ---- dedup: QUALITY-AWARE survivor choice — keep each group's
    // LONGEST member (ties -> smallest doc_id), the policy curation
    // pipelines prefer over first-seen (near-dup clusters typically
    // hold one full doc + truncated scrapes of it) ------------------
    Q("dedup_survivors_best",
      (s, d) => TextOps.dedupSurvivorsBest(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |nt AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |       FROM documents),
        |ranked AS (SELECT g.doc_id,
        |             ROW_NUMBER() OVER (PARTITION BY g.group_id
        |               ORDER BY nt.n_tokens DESC, g.doc_id) AS rk
        |           FROM grp g JOIN nt USING (doc_id)),
        |losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)),

    // ---- dedup: SimHash + byte-banding under the bucket cap -------------
    // (a byte band has 256 values, so its buckets fill linearly with
    // the corpus — the cap is ACTIVE on real data here, unlike the
    // minhash rows: the oracle mirrors the hub-star routing for
    // buckets over TextOps.BucketCap with one windowed count)
    Q("dedup_simhash",
      (s, d) => TextOps.nearDupSimhash(docs(s, d)),
      Some(s"""WITH $TokCte,
        |$SimhashSql,
        |bands AS (
        |  SELECT doc_id,
        |         CAST(b AS VARCHAR) || ':' || CAST((simhash // CAST(pow(256, b) AS BIGINT)) % 256 AS VARCHAR) AS band
        |  FROM shh, (SELECT unnest([0,1,2,3]) AS b)),
        |bstat AS (SELECT band, COUNT(*) AS bn, MIN(doc_id) AS hub
        |          FROM bands GROUP BY 1),
        |bx AS (SELECT b.doc_id, b.band, s.bn, s.hub
        |       FROM bands b JOIN bstat s USING (band)),
        |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bx a JOIN bx b USING (band)
        |  WHERE a.bn <= ${TextOps.BucketCap} AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT hub AS doc_a, doc_id AS doc_b FROM bx
        |  WHERE bn > ${TextOps.BucketCap} AND doc_id <> hub))
        |SELECT c.doc_a, c.doc_b, sa.simhash AS sim_a, sb.simhash AS sim_b,
        |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
        |FROM cand c
        |JOIN shh sa ON sa.doc_id = c.doc_a
        |JOIN shh sb ON sb.doc_id = c.doc_b
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin)),

    // ---- dedup: SimHash band-bucket volume accounting card --------------
    // (the loud-overflow card for the one banding where the
    // PRODUCTION default cap is active on real data: 256-value byte
    // bands fill linearly with the corpus — 4 capped buckets at
    // sf0.01, 63 at sf0.1)
    Q("dedup_simhash_volume",
      (s, d) => TextOps.simhashVolumeReport(docs(s, d)),
      Some(s"""WITH $TokCte,
        |$SimhashSql,
        |sbands AS (
        |  SELECT doc_id, b AS band_idx,
        |         (simhash // CAST(pow(256, b) AS BIGINT)) % 256 AS band_val
        |  FROM shh, (SELECT unnest([0,1,2,3]) AS b)),
        |sbstat AS (SELECT band_idx, band_val, COUNT(*) AS bn
        |           FROM sbands GROUP BY 1, 2)
        |SELECT CAST(band_idx AS INTEGER) AS band_idx,
        |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |       CAST(MAX(bn) AS BIGINT) AS max_bucket,
        |       CAST(SUM(CASE WHEN bn > ${TextOps.BucketCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
        |       CAST(SUM(CASE WHEN bn > ${TextOps.BucketCap} THEN bn ELSE 0 END) AS BIGINT) AS overflow_docs,
        |       CAST(SUM(CASE WHEN bn > ${TextOps.BucketCap} THEN bn * (bn - 1) // 2 - (bn - 1) ELSE 0 END) AS BIGINT) AS pairs_avoided
        |FROM sbstat GROUP BY 1""".stripMargin)),

    // ---- curation: benchmark decontamination (set containment) ----------
    // (the benchmark is the doc_id % DecontMod == 0 slice; containment
    // >= 8/10 of a corpus doc's distinct shingles marks contamination —
    // threshold probed non-vacuous at sf0.001/0.01/0.1: 5/2/29 docs)
    Q("dedup_decontaminate",
      (s, d) => TextOps.decontaminate(
        docs(s, d).where(col("doc_id") % DecontMod =!= 0),
        docs(s, d).where(col("doc_id") % DecontMod === 0)),
      Some(s"""WITH $TokCte,
        |bset AS (SELECT DISTINCT s FROM ds WHERE doc_id % $DecontMod = 0),
        |cs AS (SELECT doc_id, s FROM ds WHERE doc_id % $DecontMod <> 0),
        |sz AS (SELECT doc_id, count(*) AS n_shingles FROM cs GROUP BY 1),
        |sh AS (SELECT cs.doc_id, count(*) AS n_shared
        |       FROM cs JOIN bset USING (s) GROUP BY 1)
        |SELECT z.doc_id, z.n_shingles,
        |       COALESCE(sh.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |       COALESCE(sh.n_shared, 0) * 10 >= z.n_shingles * 8 AS contaminated
        |FROM sz z LEFT JOIN sh USING (doc_id)""".stripMargin)),

    // ---- curation: split-leakage audit (naive vs group-keyed) -----------
    Q("dedup_split_leakage",
      (s, d) => TextOps.splitLeakage(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |m AS (SELECT doc_id, group_id,
        |  ${splitCaseSql(
             saltBucketSql("CAST(doc_id AS VARCHAR)", 10))} AS naive_split,
        |  ${splitCaseSql(
             saltBucketSql("'gsp:' || CAST(group_id AS VARCHAR)", 10))} AS group_split
        |  FROM grp),
        |g AS (SELECT group_id, count(*) AS n_docs,
        |        count(DISTINCT naive_split) AS nns,
        |        count(DISTINCT group_split) AS ngs
        |      FROM m GROUP BY 1)
        |SELECT count(*) AS n_groups,
        |       CAST(SUM(n_docs) AS BIGINT) AS n_docs_in_groups,
        |       CAST(SUM(CASE WHEN nns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_naive,
        |       CAST(SUM(CASE WHEN ngs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_grouped
        |FROM g""".stripMargin)),

    // ---- dedup: cross-document duplicated-span fraction -----------------
    // (the substring-level signal whole-doc near-dup misses: a trigram
    // occurrence is duplicated iff its shingle appears in >= 2 docs)
    Q("dedup_ngram_spans",
      (s, d) => TextOps.dupNgramSpans(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 3),
        |raw AS (SELECT doc_id, unnest(list_transform(range(1, len(ls)-1),
        |          i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s FROM w),
        |occ AS (SELECT doc_id, s, count(*) AS c FROM raw GROUP BY 1, 2),
        |dfq AS (SELECT s, CAST(count(*) AS BIGINT) AS nd FROM occ GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams
        |        FROM occ GROUP BY 1),
        |dup AS (SELECT o.doc_id, CAST(sum(o.c) AS BIGINT) AS n_dup_grams
        |        FROM occ o JOIN dfq USING (s) WHERE nd >= 2 GROUP BY 1)
        |SELECT t.doc_id, t.n_grams,
        |       COALESCE(d.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
        |       CAST(COALESCE(d.n_dup_grams, 0) AS DOUBLE) / t.n_grams AS dup_frac
        |FROM tot t LEFT JOIN dup d USING (doc_id)""".stripMargin)),

    // ---- dedup: exact duplicated-substring REMOVAL (Lee et al. 2022) ----
    // (the excising twin of dedup_ngram_spans: every token covered by
    // a cross-doc duplicated 3-token run is removed, the smallest
    // doc_id containing the shingle keeping its copies; positions are
    // 0-based in Spark and 1-based in the CTE — internal only, the
    // compared columns are counts and the rebuilt text)
    Q("dedup_span_removal",
      (s, d) => TextOps.dedupSpans(docs(s, d), minTokens = 3),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents),
        |ws AS (SELECT doc_id, ls, unnest(range(1, len(ls) - 1)) AS i
        |       FROM w WHERE len(ls) >= 3),
        |occ AS (SELECT doc_id, i AS pos,
        |          ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2] AS s
        |        FROM ws),
        |stats AS (SELECT s, count(DISTINCT doc_id) AS df,
        |            min(doc_id) AS min_doc
        |          FROM occ GROUP BY 1),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT o.doc_id, unnest(range(o.pos, o.pos + 3)) AS pos
        |          FROM occ o JOIN stats USING (s)
        |          WHERE df >= 2 AND o.doc_id <> min_doc)),
        |ts AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
        |       FROM w),
        |toks AS (SELECT doc_id, i AS pos, ls[i] AS tok FROM ts),
        |kept AS (SELECT t.doc_id, t.pos, t.tok
        |         FROM toks t LEFT JOIN cov c USING (doc_id, pos)
        |         WHERE c.pos IS NULL),
        |seg AS (SELECT doc_id, CASE WHEN pos - lag(pos) OVER
        |            (PARTITION BY doc_id ORDER BY pos) > 1
        |          THEN 1 ELSE 0 END AS brk
        |        FROM kept),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY 1),
        |segc AS (SELECT doc_id, CAST(1 + sum(brk) AS BIGINT) AS n_segments
        |         FROM seg GROUP BY 1)
        |SELECT w.doc_id, CAST(len(ls) AS BIGINT) AS n_tokens,
        |       CAST(len(ls) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
        |       COALESCE(n_segments, CAST(0 AS BIGINT)) AS n_segments,
        |       COALESCE(text_clean, '') AS text_clean,
        |       CAST(len(ls) - COALESCE(n_kept, 0) AS DOUBLE) / len(ls)
        |         AS removed_frac
        |FROM w LEFT JOIN reb USING (doc_id) LEFT JOIN segc USING (doc_id)"""
        .stripMargin)),

    // ---- dedup: winnowing-fingerprint overlap (third near-dup route) ----
    // Candidates share >= 3 fingerprints (after dropping df>50
    // boilerplate fingerprints — the stop-word analog that keeps hot
    // buckets from going quadratic), verified by exact Jaccard over
    // the capped fingerprint sets.
    Q("dedup_winnowing",
      (s, d) => TextOps.nearDupWinnowing(docs(s, d)),
      Some(s"""WITH $WinnowCte,
        |fpe AS (SELECT doc_id, unnest(fp) AS f FROM fp),
        |dfc AS (SELECT f, COUNT(*) AS df FROM fpe GROUP BY 1),
        |fpk AS (SELECT doc_id, f FROM fpe JOIN dfc USING (f) WHERE df <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM fpk GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |          FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
        |       i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        |             JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.5""".stripMargin)),

    // ---- similarity: embedding-cosine near-dup pairs (brute force) -------
    Q("dedup_embedding_cos",
      (s, d) => EmbeddingOps.nearDupCosineBrute(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |p AS (SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b,
        |             unnest(ea.q) AS a, unnest(eb.q) AS b
        |      FROM e ea, e eb WHERE ea.vec_id < eb.vec_id),
        |dots AS (SELECT vec_a, vec_b, SUM(a*b) AS dot FROM p GROUP BY 1, 2)
        |SELECT vec_a, vec_b,
        |       CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |FROM dots JOIN n na ON na.vec_id = vec_a
        |          JOIN n nb ON nb.vec_id = vec_b
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45""".stripMargin)),

    // ---- similarity: LSH-bucketed near-dup pairs — the scale twin of
    // dedup_embedding_cos (candidates per bucket, no |corpus|^2). 4
    // planes, not the sim_* rows' 8: a dedup candidate generator wants
    // recall, and the corpus' true pairs sit at cos 0.45-0.60 where
    // 8-plane single-probe collision is ~4% (an empty, vacuous row at
    // the test SFs); 16 coarser buckets keep the row populated at all
    // three SFs while the per-bucket-pairs plan shape is unchanged ------
    // 4 coarse planes mean the sign buckets are ACTIVELY over the
    // shared volume cap at sf0.1 (~300 members in 16 buckets), so the
    // oracle mirrors the hub-star routing: all-pairs inside bounded
    // buckets, hub-vs-member inside oversized ones
    Q("dedup_embedding_lsh",
      (s, d) => EmbeddingOps.nearDupCosineLsh(emb(s, d), nPlanes = 4),
      Some(s"""WITH $EmbCte,
        |${lshBucketCte(4)},
        |ebs AS (SELECT eb.vec_id, eb.q, eb.bucket, s.bn, s.hub
        |        FROM eb JOIN (SELECT bucket, COUNT(*) AS bn,
        |                             MIN(vec_id) AS hub
        |                      FROM eb GROUP BY 1) s USING (bucket)),
        |pp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |              unnest(a.q) AS x, unnest(b.q) AS y
        |       FROM ebs a JOIN ebs b
        |         ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |       WHERE a.bn <= ${EmbeddingOps.GroupCap}
        |       UNION ALL
        |       SELECT h.vec_id AS vec_a, m.vec_id AS vec_b,
        |              unnest(h.q) AS x, unnest(m.q) AS y
        |       FROM ebs h JOIN ebs m
        |         ON h.bucket = m.bucket AND m.vec_id <> h.vec_id
        |       WHERE h.bn > ${EmbeddingOps.GroupCap} AND h.vec_id = h.hub),
        |dots AS (SELECT vec_a, vec_b, SUM(x*y) AS dot FROM pp GROUP BY 1, 2)
        |SELECT vec_a, vec_b,
        |       CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |FROM dots JOIN n na ON na.vec_id = vec_a
        |          JOIN n nb ON nb.vec_id = vec_b
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45""".stripMargin)),

    // ---- dedup: SemDeDup-style cluster-then-prune — the THIRD
    // embedding near-dup route: candidates bounded by the TRAINED
    // k-means cells instead of random hyperplanes (Abbas et al. 2023).
    // Oracle reuses the IVF pipeline's Lloyd-round generator, so the
    // training+assignment arithmetic cannot drift between routes -----
    Q("dedup_semantic",
      (s, d) => EmbeddingOps.semanticDedup(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${kmeansCellsCte(EmbeddingOps.KmIters)},
        |pp2 AS (SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
        |        FROM cells a JOIN cells b ON a.cell = b.cell
        |                                 AND a.vec_id < b.vec_id),
        |ppx AS (SELECT pp2.cell, pp2.vec_a, pp2.vec_b,
        |               unnest(ea.q) AS x, unnest(eb.q) AS y
        |        FROM pp2 JOIN e ea ON ea.vec_id = pp2.vec_a
        |                 JOIN e eb ON eb.vec_id = pp2.vec_b),
        |sdots AS (SELECT cell, vec_a, vec_b, SUM(x*y) AS dot
        |          FROM ppx GROUP BY 1, 2, 3)
        |SELECT cell, vec_a, vec_b,
        |       CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |FROM sdots JOIN n na ON na.vec_id = vec_a
        |           JOIN n nb ON nb.vec_id = vec_b
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45""".stripMargin)),

    // ---- dedup: semantic-dedup cell-volume monitoring card --------------
    // (the raise-nCentroids signal: SemDeDup's within-cell pair cost
    // is bounded by the quantizer, not a cap — this card keeps the
    // bound honest with exact per-cell member counts and the all-pairs
    // volume semanticDedup will score there)
    Q("dedup_semantic_volume",
      (s, d) => EmbeddingOps.semanticCellVolume(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${kmeansCellsCte(EmbeddingOps.KmIters)}
        |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n_pairs
        |FROM cells GROUP BY 1""".stripMargin)),

    // ---- dedup: LSH threshold-tuning band sweep --------------------------
    Q("dedup_band_sweep",
      (s, d) => TextOps.minhashBandSweep(docs(s, d)),
      Some(s"""WITH $MinhashPairsCte
        |SELECT i.n_common * 20 // (sa.n + sb.n - i.n_common) AS band,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.doc_a
        |JOIN sz sb ON sb.doc_id = i.doc_b
        |GROUP BY 1""".stripMargin)),

    // ---- curation: bloom-pruned decontamination (scale path) -------------
    // Bloom filters have no false negatives and the set join removes
    // the false positives, so the pruned route's output IS the exact
    // route's — the oracle is dedup_decontaminate's SQL verbatim.
    Q("dedup_decontaminate_bloom",
      (s, d) => TextOps.decontaminateBloom(
        docs(s, d).where(col("doc_id") % DecontMod =!= 0),
        docs(s, d).where(col("doc_id") % DecontMod === 0)),
      Some(s"""WITH $TokCte,
        |bset AS (SELECT DISTINCT s FROM ds WHERE doc_id % $DecontMod = 0),
        |cs AS (SELECT doc_id, s FROM ds WHERE doc_id % $DecontMod <> 0),
        |sz AS (SELECT doc_id, count(*) AS n_shingles FROM cs GROUP BY 1),
        |sh AS (SELECT cs.doc_id, count(*) AS n_shared
        |       FROM cs JOIN bset USING (s) GROUP BY 1)
        |SELECT z.doc_id, z.n_shingles,
        |       COALESCE(sh.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |       COALESCE(sh.n_shared, 0) * 10 >= z.n_shingles * 8 AS contaminated
        |FROM sz z LEFT JOIN sh USING (doc_id)""".stripMargin)),

    // ---- dedup: MinHash banding recall vs the exact baseline -------------
    Q("dedup_band_recall",
      (s, d) => TextOps.minhashBandRecall(docs(s, d)),
      Some(s"""WITH $MinhashPairsCte,
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |              count(*) AS nc
        |       FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |tj AS (SELECT doc_a, doc_b FROM tp
        |       JOIN sz sa ON sa.doc_id = doc_a
        |       JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE nc / CAST(sa.n + sb.n - nc AS DOUBLE) >= 0.5),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tj),
        |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_caught
        |       FROM tj JOIN cand USING (doc_a, doc_b))
        |SELECT n_true, n_caught,
        |       CAST(CASE WHEN n_true = 0 THEN 0
        |            ELSE n_caught * 1000 // n_true END AS BIGINT)
        |         AS recall_permille
        |FROM ct, cc""".stripMargin)),

    // ---- dedup: cheap-to-expensive cascade funnel ------------------------
    // Survivor-subset pair filtering in the oracle: per-doc signatures
    // and co-banding are independent of other docs, so minhash pairs
    // over the FULL corpus restricted to bow-survivor endpoints equal
    // pairs recomputed on the survivor subset (what the engine runs).
    Q("dedup_cascade_report",
      (s, d) => TextOps.dedupCascadeReport(docs(s, d)),
      Some(s"""WITH $MinhashPairsCte,
        |e1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d1 AS (SELECT dd.* FROM documents dd JOIN e1 USING (doc_id)),
        |e2 AS (SELECT MIN(doc_id) AS doc_id FROM d1
        |       GROUP BY md5(array_to_string(list_sort(string_split(text, ' ')), ' '))),
        |drop3 AS (SELECT DISTINCT n.doc_b AS doc_id FROM ndup n
        |          JOIN e2 a ON a.doc_id = n.doc_a
        |          JOIN e2 b ON b.doc_id = n.doc_b),
        |u AS (
        |  SELECT 0 AS stage_idx, 'raw' AS stage,
        |         CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |  UNION ALL
        |  SELECT 1, 'exact', CAST(count(*) AS BIGINT) FROM e1
        |  UNION ALL
        |  SELECT 2, 'bow', CAST(count(*) AS BIGINT) FROM e2
        |  UNION ALL
        |  SELECT 3, 'near_dup',
        |         (SELECT CAST(count(*) AS BIGINT) FROM e2)
        |           - (SELECT CAST(count(*) AS BIGINT) FROM drop3))
        |SELECT stage_idx, stage, n_docs,
        |       CAST(coalesce(lag(n_docs) OVER (ORDER BY stage_idx) - n_docs, 0)
        |         AS BIGINT) AS n_removed
        |FROM u""".stripMargin)),

    // ---- dedup: order-insensitive bag-of-words hash ----------------------
    Q("dedup_bow",
      (s, d) => TextOps.dedupBagOfWords(docs(s, d)),
      Some("""SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_hash,
        |       MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),
  )
}
