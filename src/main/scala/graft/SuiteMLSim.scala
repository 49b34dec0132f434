package graft

import org.apache.spark.sql.functions.{col, size}

import graft.operators.{EmbeddingOps, TextOps}

import graft.SuiteMLShared._

/** Similarity/embedding-family registry rows (brute/LSH/IVF/PQ/SQ8/
  * IVF-PQ ANN with recall cards, persisted-index serving, SemDeDup,
  * embedding analysis).
  *
  * Split from the single SuiteML registry purely mechanically (the
  * per-family files concatenate into [[SuiteML.all]]); shared CTE
  * helpers live in [[SuiteMLShared]].
  */
private[graft] object SuiteMLSim {

  /** Recall floor (permille of recall@10, averaged over the 5 probe
    * queries) for the sim_trunc_serve width selection — ONE literal
    * feeding both the Spark build and the oracle's pick CTE
    * (1000 * hits >= floor * nQueries * k, exact integers). */
  private val TruncServeFloorMilli = 200L

  /** The mutation-history fixture shared by `sim_serve_asof` and
    * `sim_index_diff`: build over vec_id % 7 <> 6, CAPTURE
    * (`ivfpq_asof:$d`), append the % 7 = 6 slice, delete the
    * % 11 = 3 vectors inside the build slice, CAPTURE again
    * (`ivfpq_asof_end:$d`). One shared builder so the two rows'
    * replayed histories cannot drift. */
  private def asofHistoryIdx(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    cachedIndex("ivfpq_asof", d, p => {
      val all = emb(s, d)
      EmbeddingOps.ivfpqIndexWrite(
        all.where(col("vec_id") % 7 =!= 6), p)
      snapCache.put(s"ivfpq_asof:$d",
        EmbeddingOps.indexSnapshot(s, p))
      EmbeddingOps.ivfpqIndexAppend(
        all.where(col("vec_id") % 7 === 6), p)
      EmbeddingOps.indexDelete(s, p,
        all.where(col("vec_id") % 7 =!= 6 &&
          col("vec_id") % 11 === 3).select(col("vec_id")))
      snapCache.put(s"ivfpq_asof_end:$d",
        EmbeddingOps.indexSnapshot(s, p))
    })

  /** Truncated-brute CTEs + hit counts for one prefix width `d` —
    * the sim_trunc_sweep oracle's per-arm generator: the same
    * slice/norm/cosine/rank arithmetic as the Spark arm, so the two
    * cannot drift per dim. */
  private def truncArmSql(d: Int): String =
    s"""td$d AS (SELECT vec_id, q[1:$d] AS q FROM e),
      |tn$d AS (SELECT vec_id, SUM(v*v) AS nn
      |         FROM (SELECT vec_id, unnest(q) AS v FROM td$d) GROUP BY 1),
      |tp$d AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
      |                unnest(qe.q) AS a, unnest(ce.q) AS b
      |         FROM td$d qe, td$d ce
      |         WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
      |tdot$d AS (SELECT query_id, vid, SUM(a*b) AS dot FROM tp$d GROUP BY 1, 2),
      |tsc$d AS (SELECT query_id, vid,
      |                 CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
      |          FROM tdot$d JOIN tn$d nq ON nq.vec_id = query_id
      |                      JOIN tn$d nv ON nv.vec_id = vid),
      |tk$d AS (SELECT query_id, vid FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
      |  FROM tsc$d) WHERE rk <= 10),
      |th$d AS (SELECT b.query_id, COUNT(*) AS nh FROM brute b
      |         JOIN tk$d p ON p.query_id = b.query_id AND p.vid = b.vid
      |         GROUP BY 1)""".stripMargin

  private def truncTailSql(d: Int): String =
    s"""SELECT CAST($d AS INTEGER) AS trunc_dim, q.query_id,
      |       CAST(COALESCE(th$d.nh, 0) AS BIGINT) AS n_overlap,
      |       CAST(COALESCE(th$d.nh, 0) AS DOUBLE) / 10 AS recall_at_k
      |FROM (SELECT DISTINCT query_id FROM brute) q
      |LEFT JOIN th$d ON th$d.query_id = q.query_id""".stripMargin

  val rows: Seq[Q] = Seq(

    // ---- similarity: brute-force cosine top-k ---------------------------
    Q("sim_ann_topk",
      (s, d) => EmbeddingOps.annTopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |p AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid, ce.label,
        |             unnest(qe.q) AS a, unnest(ce.q) AS b
        |      FROM e qe, e ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |dots AS (SELECT query_id, vid, label, SUM(a*b) AS dot FROM p GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, vid, label,
        |              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM dots JOIN n nq ON nq.vec_id = query_id
        |                 JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, label, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin),
      bench = true),

    // ---- dedup: the streaming-state registry primitive ------------------
    // The quantized-milli-unit content hash Streams.embeddingSink's
    // refuse-on-mutation contract rests on, pinned against a DuckDB
    // replay (embedding arrays surface as their length — the hash
    // already covers every element exactly).
    Q("sim_registry",
      (s, d) => EmbeddingOps.embeddingRegistry(emb(s, d))
        .select(col("vec_id"), col("content_hash"),
          size(col("embedding")).cast("long").as("n_dims"),
          col("label")),
      Some("""SELECT vec_id,
        |  md5(concat(array_to_string(
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)), ','),
        |    '|', COALESCE(CAST(label AS VARCHAR), ''))) AS content_hash,
        |  CAST(len(embedding) AS BIGINT) AS n_dims, label
        |FROM embeddings""".stripMargin)),

    // ---- similarity: LSH-bucketed nearest neighbor (the scale path) -----
    Q("sim_lsh_nn",
      (s, d) => EmbeddingOps.lshNearestNeighbor(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$LshBucketCte,
        |pp AS (SELECT a.vec_id AS vid, b.vec_id AS nn_id,
        |              unnest(a.q) AS x, unnest(b.q) AS y
        |       FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |$LshScoreTail""".stripMargin),
      bench = true),

    // ---- similarity: multi-probe LSH (Hamming-1 probe set) — the way
    // to raise nPlanes at scale without losing neighbors ------------------
    Q("sim_lsh_multiprobe",
      (s, d) => EmbeddingOps.lshNearestNeighborMultiprobe(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$LshBucketCte,
        |pb AS (SELECT vec_id,
        |              unnest(list_append(list_transform(range(8),
        |                j -> xor(bucket, CAST(pow(2, j) AS BIGINT))), bucket)) AS pbk
        |       FROM bk),
        |pp AS (SELECT p.vec_id AS vid, c.vec_id AS nn_id,
        |              unnest(ea.q) AS x, unnest(c.q) AS y
        |       FROM pb p
        |       JOIN eb c ON c.bucket = p.pbk AND c.vec_id <> p.vec_id
        |       JOIN e ea ON ea.vec_id = p.vec_id),
        |$LshScoreTail""".stripMargin)),

    // ---- similarity: IVF coarse-quantizer probe (the other scale path) --
    Q("sim_ivf_topk",
      (s, d) => EmbeddingOps.ivfTopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
        |scored AS (
        |  SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc WHERE crk = 1),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell
        |           FROM rankedc WHERE vec_id < 5 AND crk <= 2),
        |cand AS (SELECT p.query_id, cl.vec_id
        |         FROM probes p JOIN cells cl USING (cell)
        |         WHERE cl.vec_id <> p.query_id),
        |cd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM (
        |    SELECT ca.query_id, ca.vec_id AS vid,
        |           unnest(eq1.q) AS a, unnest(eq2.q) AS b
        |    FROM cand ca
        |    JOIN eq eq1 ON eq1.vec_id = ca.query_id
        |    JOIN eq eq2 ON eq2.vec_id = ca.vec_id) GROUP BY 1, 2),
        |sc AS (SELECT query_id, vid,
        |              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM cd JOIN n nq ON nq.vec_id = query_id
        |                JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: PERSISTED-index IVF serving — the offline-build /
    // online-serve split: the index (centroids + cell-partitioned
    // inverted lists) is written to parquet and serving reads ONLY the
    // probed cells (static partition pruning; EmbeddingOpsSpec pins
    // the PartitionFilters). Same construction as sim_ivf_topk, so the
    // oracle is the same replay — equality proves the persisted round
    // trip loses nothing ------------------------------------------------
    Q("sim_ivf_persisted",
      (s, d) => {
        val idx = cachedIndex("ivf", d,
          p => EmbeddingOps.ivfIndexWrite(emb(s, d), p))
        EmbeddingOps.ivfTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
        |scored AS (
        |  SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc WHERE crk = 1),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell
        |           FROM rankedc WHERE vec_id < 5 AND crk <= 2),
        |cand AS (SELECT p.query_id, cl.vec_id
        |         FROM probes p JOIN cells cl USING (cell)
        |         WHERE cl.vec_id <> p.query_id),
        |cd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM (
        |    SELECT ca.query_id, ca.vec_id AS vid,
        |           unnest(eq1.q) AS a, unnest(eq2.q) AS b
        |    FROM cand ca
        |    JOIN eq eq1 ON eq1.vec_id = ca.query_id
        |    JOIN eq eq2 ON eq2.vec_id = ca.vec_id) GROUP BY 1, 2),
        |sc AS (SELECT query_id, vid,
        |              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM cd JOIN n nq ON nq.vec_id = query_id
        |                JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: FILTERED persisted-index serving -------------------
    // (metadata predicate label = 1 pushed into the pruned lists scan;
    // top-k per query AMONG matching vectors — the per-tenant /
    // per-class search mode; same coarse-probe replay, candidates
    // filtered by label before ranking)
    Q("sim_ivf_filtered",
      (s, d) => {
        val idx = cachedIndex("ivf", d,
          p => EmbeddingOps.ivfIndexWrite(emb(s, d), p))
        EmbeddingOps.ivfTopKIndexedWhere(s, idx,
          emb(s, d).where(col("vec_id") < 5), col("label") === 1)
      },
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
        |scored AS (
        |  SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc WHERE crk = 1),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell
        |           FROM rankedc WHERE vec_id < 5 AND crk <= 2),
        |cand AS (SELECT p.query_id, cl.vec_id, el.label
        |         FROM probes p JOIN cells cl USING (cell)
        |         JOIN e el ON el.vec_id = cl.vec_id
        |         WHERE cl.vec_id <> p.query_id AND el.label = 1),
        |cd AS (SELECT query_id, vid, label, SUM(a*b) AS dot FROM (
        |    SELECT ca.query_id, ca.vec_id AS vid, ca.label,
        |           unnest(eq1.q) AS a, unnest(eq2.q) AS b
        |    FROM cand ca
        |    JOIN eq eq1 ON eq1.vec_id = ca.query_id
        |    JOIN eq eq2 ON eq2.vec_id = ca.vec_id) GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, vid, label,
        |              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM cd JOIN n nq ON nq.vec_id = query_id
        |                JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, label, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: inverted-list balance report — the operational
    // monitoring artifact (a probe costs its largest probed cell):
    // per-cell entry counts with min/max/total context, replayed from
    // the same coarse assignment the index was built with -----------
    Q("sim_index_stats",
      (s, d) => {
        val idx = cachedIndex("ivf", d,
          p => EmbeddingOps.ivfIndexWrite(emb(s, d), p))
        EmbeddingOps.indexCellStats(s, idx)
      },
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |scored AS (SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM e eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, CAST(cent_id AS INTEGER) AS cell
        |          FROM rankedc WHERE crk = 1),
        |pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_entries
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_entries) AS BIGINT) AS n_total,
        |               CAST(min(n_entries) AS BIGINT) AS min_entries,
        |               CAST(max(n_entries) AS BIGINT) AS max_entries,
        |               CAST(count(*) AS BIGINT) AS n_cells FROM pc)
        |SELECT cell, n_entries, n_total, min_entries, max_entries,
        |       n_cells,
        |       CAST(n_entries AS DOUBLE) * n_cells / n_total
        |         AS balance_ratio
        |FROM pc, tot""".stripMargin)),

    // ---- similarity: PERSISTED-index serving WITH TOMBSTONES — the
    // retraction path: vec_ids 20..29 deleted via indexDelete land as
    // a tombstone segment, serving anti-joins them out; the oracle is
    // the same IVF replay with those candidates excluded — equality
    // proves a delete serves exactly like an index built without the
    // victims ------------------------------------------------------
    Q("sim_ivf_deleted",
      (s, d) => {
        val idx = cachedIndex("ivfdel", d, p => {
          EmbeddingOps.ivfIndexWrite(emb(s, d), p)
          EmbeddingOps.indexDelete(s, p,
            emb(s, d).where(col("vec_id") >= 20 && col("vec_id") < 30)
              .select(col("vec_id")))
        })
        EmbeddingOps.ivfTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
        |scored AS (
        |  SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc
        |          WHERE crk = 1 AND NOT (vec_id >= 20 AND vec_id < 30)),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell
        |           FROM rankedc WHERE vec_id < 5 AND crk <= 2),
        |cand AS (SELECT p.query_id, cl.vec_id
        |         FROM probes p JOIN cells cl USING (cell)
        |         WHERE cl.vec_id <> p.query_id),
        |cd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM (
        |    SELECT ca.query_id, ca.vec_id AS vid,
        |           unnest(eq1.q) AS a, unnest(eq2.q) AS b
        |    FROM cand ca
        |    JOIN eq eq1 ON eq1.vec_id = ca.query_id
        |    JOIN eq eq2 ON eq2.vec_id = ca.vec_id) GROUP BY 1, 2),
        |sc AS (SELECT query_id, vid,
        |              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM cd JOIN n nq ON nq.vec_id = query_id
        |                JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: product-quantization ADC top-k — the compressed
    // scale path: queries score corpus CODES (M table lookups), never
    // corpus vectors; all-integer, so the oracle replays the whole
    // pipeline (slice -> encode -> LUT -> sum) ----------------------------
    Q("sim_pq_topk",
      (s, d) => EmbeddingOps.pqTopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$PqScoreCte
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, adot FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: PERSISTED PQ index — codes-only serving: the
    // stored index is (sub, code) smallints per vector plus the
    // broadcast codebooks; the ADC scoring join never reads a corpus
    // vector. Same construction as sim_pq_topk, same replay —
    // equality proves the compressed round trip loses nothing --------
    Q("sim_pq_persisted",
      (s, d) => {
        val idx = cachedIndex("pq", d,
          p => EmbeddingOps.pqIndexWrite(emb(s, d), p))
        EmbeddingOps.pqTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$PqScoreCte
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, adot FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: IVF-PQ composite (IVFADC — the faiss IVFPQ
    // structure): coarse cells bound WHICH candidates are touched,
    // residual PQ codes bound BYTES PER CANDIDATE; the inner-product
    // score decomposes exactly as dot(q, centroid) + M ADC lookups,
    // so the whole composite stays integer-exact and replayable ------
    Q("sim_ivfpq_topk",
      (s, d) => EmbeddingOps.ivfpqTopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte
        |$IvfPqTopKTail""".stripMargin)),

    // ---- similarity: PERSISTED IVF-PQ index — codes partitioned by
    // coarse cell, so serving prunes BOTH statically (committed
    // segments x probed cells) and reads M small ints per candidate,
    // never a corpus vector. Same construction as sim_ivfpq_topk,
    // same replay — equality proves the round trip loses nothing ----
    Q("sim_ivfpq_persisted",
      (s, d) => {
        val idx = cachedIndex("ivfpq", d,
          p => EmbeddingOps.ivfpqIndexWrite(emb(s, d), p))
        EmbeddingOps.ivfpqTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte
        |$IvfPqTopKTail""".stripMargin),
      bench = true),

    // ---- similarity: IVF-PQ served from a MERGED index -------------------
    // (the ANN family's shard-parallel build: ONE trainer root fixes
    // the quantizers over the full corpus, each parity shard encodes
    // under them via ivfpqIndexWriteWith in its own build, and
    // ivfpqIndexMerge stitches the quantizer-identical roots. Per-row
    // deterministic encoding makes the merged codes identical to the
    // full build's, so the oracle is sim_ivfpq_persisted's replay
    // verbatim — training included)
    Q("sim_ivfpq_merged",
      (s, d) => {
        val dir = cachedIndex("ivfpq_merged", d, p => {
          val all = emb(s, d)
          val trainer = s"$p/trainer"
          EmbeddingOps.ivfpqIndexWrite(all, trainer)
          val shards = (0 until 2).map { i =>
            val sp = s"$p/shard$i"
            EmbeddingOps.ivfpqIndexWriteWith(
              all.where(col("vec_id") % 2 === i), sp, trainer)
            sp
          }
          EmbeddingOps.ivfpqIndexMerge(s, shards, s"$p/ix")
        })
        EmbeddingOps.ivfpqTopKIndexed(s, s"$dir/ix",
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte
        |$IvfPqTopKTail""".stripMargin)),

    // ---- similarity: snapshot-pinned serving — the reproducibility
    // contract: a training run records an IndexSnapshot token and its
    // re-reads replay bit-identically while the index keeps ingesting
    // and deleting. History: build over vec_id % 7 <> 6, CAPTURE, then
    // append the % 7 = 6 slice and delete the % 11 = 3 vectors — the
    // pinned serve must equal the capture-time index, so the oracle
    // replays the whole IVF-PQ pipeline (training included) over the
    // build slice alone and ignores both later mutations ------------
    Q("sim_serve_asof",
      // materialized inside withSnapshotRetry (the dedup_serve_asof
      // discipline): the race-absorption contract rides the gate
      (s, d) => EmbeddingOps.withSnapshotRetry(() => {
        val idx = asofHistoryIdx(s, d)
        EmbeddingOps.ivfpqTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5),
          asOf = Some(snapCache.get(s"ivfpq_asof:$d"))).localCheckpoint()
      }),
      Some(s"""WITH ${embCteSliced("vec_id % 7 <> 6")},
        |$IvfPqScoreCte
        |$IvfPqTopKTail""".stripMargin)),

    // ---- similarity: snapshot diff — the audit twin of the pinned
    // serve: which keys did the mutations between the two captures
    // make visible (the appended % 7 = 6 slice) and which did they
    // kill (the % 11 = 3 deletions inside the build slice)? The
    // operator reads delta segments plus the key COLUMN of the
    // from-view; the oracle states the answer as pure key set
    // arithmetic over the corpus — external proof the diff legs
    // classify exactly ----------------------------------------------
    Q("sim_index_diff",
      (s, d) => {
        val idx = asofHistoryIdx(s, d)
        EmbeddingOps.indexDiff(s, idx, "codes",
          snapCache.get(s"ivfpq_asof:$d"),
          snapCache.get(s"ivfpq_asof_end:$d"))
      },
      Some("""SELECT vec_id, 'added' AS change FROM embeddings
        |WHERE vec_id % 7 = 6
        |UNION ALL
        |SELECT vec_id, 'removed' AS change FROM embeddings
        |WHERE vec_id % 7 <> 6 AND vec_id % 11 = 3""".stripMargin)),

    // ---- similarity: RETAINED pinned serving — the retention grace
    // driver-checked: same mutation history as sim_serve_asof, then
    // the COMPACTION that used to expire the token. The pinned serve
    // resolves to the retired tree and must still replay the
    // capture-time view (build slice, pre-delete) byte-identically —
    // the oracle is sim_serve_asof's replay, unchanged ---------------
    Q("sim_serve_retained",
      (s, d) => {
        val idx = cachedIndex("ivfpq_ret", d, p => {
          val all = emb(s, d)
          EmbeddingOps.ivfpqIndexWrite(
            all.where(col("vec_id") % 7 =!= 6), p)
          snapCache.put(s"ivfpq_ret:$d",
            EmbeddingOps.indexSnapshot(s, p))
          EmbeddingOps.ivfpqIndexAppend(
            all.where(col("vec_id") % 7 === 6), p)
          EmbeddingOps.indexDelete(s, p,
            all.where(col("vec_id") % 7 =!= 6 &&
              col("vec_id") % 11 === 3).select(col("vec_id")))
          require(EmbeddingOps.ivfpqIndexCompact(s, p) >= 1,
            "retained-serve fixture: compaction must swap the tree")
        })
        EmbeddingOps.ivfpqTopKIndexed(s, idx,
          emb(s, d).where(col("vec_id") < 5),
          asOf = Some(snapCache.get(s"ivfpq_ret:$d")))
      },
      Some(s"""WITH ${embCteSliced("vec_id % 7 <> 6")},
        |$IvfPqScoreCte
        |$IvfPqTopKTail""".stripMargin)),

    // ---- retrieval: HYBRID lexical+dense serving (RRF fusion) -------
    // The two persisted index families composed the way a production
    // retrieval stack runs them: batched BM25 top-10 per query (terms
    // from each query doc's first 8 tokens) fused with IVF-PQ ADC
    // top-10 per query (the query docs' embeddings — the id domains
    // are shared) by reciprocal rank, 1/(60+rk) summed over the arms
    // a candidate appears in. Rank arithmetic on both sides is the
    // exact integer serving already oracle-checked row-by-row
    // (text_bm25_batch, sim_ivfpq_persisted); the fusion is a
    // two-term IEEE double sum of those ranks, so the whole composed
    // answer replays bit-identically. Note the arms' self-match
    // contracts differ by construction: ADC excludes the query
    // vector, BM25 does not (a doc IS its own best lexical match) —
    // the oracle replays both as they are.
    Q("sim_hybrid_rrf",
      (s, d) => {
        val bmIdx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        val pqIdx = cachedIndex("ivfpq", d,
          p => EmbeddingOps.ivfpqIndexWrite(emb(s, d), p))
        graft.operators.Hybrid.hybridTopKIndexed(s, bmIdx, pqIdx,
          bm25BatchQueries(docs(s, d)),
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte,
        |dense AS (SELECT query_id, vec_id AS cand_id,
        |                 CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY adot DESC, vec_id) AS rk FROM xsc) WHERE rk <= 10),
        |$Bm25BatchCte,
        |$HybridFuseTail""".stripMargin),
      bench = true),

    // ---- retrieval: SNAPSHOT-PINNED hybrid serving -------------------
    // (the training-run read path driver-checked: both arms pinned to
    // their capture-time views — the BM25 arm to the doc_id % 7 <> 3
    // build slice, the IVF-PQ arm to the vec_id % 7 <> 6 build slice,
    // both captured BEFORE their appends/deletes by the families'
    // shared as-of fixtures — so the oracle is the live hybrid replay
    // with each arm's corpus CTE sliced to its capture-time input.
    // One fusion tail shared with sim_hybrid_rrf)
    Q("sim_hybrid_asof",
      (s, d) => graft.operators.Hybrid.hybridTopKIndexed(s,
        SuiteMLText.bm25AsofIdx(s, d), asofHistoryIdx(s, d),
        bm25BatchQueries(docs(s, d)),
        emb(s, d).where(col("vec_id") < 5),
        lexAsOf = Some(snapCache.get(s"bm25_asof:$d")),
        denseAsOf = Some(snapCache.get(s"ivfpq_asof:$d"))),
      Some(s"""WITH ${embCteSliced("vec_id % 7 <> 6")},
        |$IvfPqScoreCte,
        |dense AS (SELECT query_id, vec_id AS cand_id,
        |                 CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY adot DESC, vec_id) AS rk FROM xsc) WHERE rk <= 10),
        |${bm25BatchCteOver("doc_id % 7 <> 3")},
        |$HybridFuseTail""".stripMargin)),

    // ---- similarity: embedding ingest-quality gate card -------------
    // (the pre-index checks as one bounded row: null/empty/NaN/zero
    // vectors, modal width + disagreement count, exact quantized
    // norm extremes over the clean rows; on this corpus the defect
    // counts are zero and the spec exercises the defect arms on a
    // poisoned fixture)
    Q("sim_emb_quality",
      (s, d) => EmbeddingOps.embQualityCard(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |b AS (SELECT vec_id, embedding,
        |        CAST(len(embedding) AS BIGINT) AS d,
        |        COALESCE(len(list_filter(embedding,
        |          x -> isnan(CAST(x AS DOUBLE)))) > 0, FALSE) AS has_nan,
        |        COALESCE(len(list_filter(embedding, x -> x <> 0)) = 0,
        |          FALSE) AS all_zero
        |      FROM embeddings),
        |md AS (SELECT CAST(d AS BIGINT) AS dim_mode FROM (
        |  SELECT len(embedding) AS d, COUNT(*) AS c FROM embeddings
        |  WHERE embedding IS NOT NULL GROUP BY 1
        |  ORDER BY c DESC, d LIMIT 1))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(COUNT(*) FILTER (WHERE embedding IS NULL) AS BIGINT) AS n_null_vec,
        |  CAST(COUNT(*) FILTER (WHERE d = 0) AS BIGINT) AS n_empty,
        |  CAST(COUNT(*) FILTER (WHERE has_nan) AS BIGINT) AS n_nan,
        |  CAST(COUNT(*) FILTER (WHERE d > 0 AND NOT has_nan AND all_zero) AS BIGINT) AS n_zero_norm,
        |  MAX(dim_mode) AS dim_mode,
        |  CAST(COUNT(*) FILTER (WHERE embedding IS NOT NULL AND d <> dim_mode) AS BIGINT) AS n_dim_mismatch,
        |  CAST(MIN(nn) FILTER (WHERE embedding IS NOT NULL AND NOT has_nan AND d = dim_mode) AS BIGINT) AS min_nn,
        |  CAST(MAX(nn) FILTER (WHERE embedding IS NOT NULL AND NOT has_nan AND d = dim_mode) AS BIGINT) AS max_nn
        |FROM b LEFT JOIN n USING (vec_id), md""".stripMargin)),

    // ---- similarity: IVF-PQ recall@10 — the composite's recall row,
    // measuring coarse-pruning misses AND residual-quantization
    // ranking error against the exact brute top-10 ------------------
    Q("sim_ivfpq_recall",
      (s, d) => EmbeddingOps.ivfpqRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte,
        |xk AS (SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM xsc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("xk")}""".stripMargin)),

    // ---- similarity: two-stage IVF-PQ serving — ADC top-30 from the
    // persisted IVF-PQ index, re-scored EXACTLY against the vectors
    // stored in the persisted IVF index's lists (both built from the
    // same corpus, so the vec_id -> vector mapping is shared), top-10
    // by exact cosine: the faiss IndexRefine pattern ---------------------
    Q("sim_ivfpq_rerank",
      (s, d) => {
        val pq = cachedIndex("ivfpq", d,
          p => EmbeddingOps.ivfpqIndexWrite(emb(s, d), p))
        val iv = cachedIndex("ivf", d,
          p => EmbeddingOps.ivfIndexWrite(emb(s, d), p))
        EmbeddingOps.ivfpqTopKRerank(s, pq, iv,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte,
        |$RerankCte
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM rsc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: the re-rank stage's recall lift at equal R —
    // both arms read the SAME top-30 ADC candidates; one keeps ADC
    // order, the other re-scores exactly. The lift is the residual
    // quantization's ranking error, measured per query ---------------------
    Q("sim_ivfpq_rerank_recall",
      (s, d) => EmbeddingOps.ivfpqRerankRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$IvfPqScoreCte,
        |xk AS (SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM xsc) WHERE rk <= 10),
        |$RerankCte,
        |rrk AS (SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM rsc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |ha AS (SELECT b.query_id, COUNT(*) AS nh FROM brute b
        |       JOIN xk p ON p.query_id = b.query_id AND p.vec_id = b.vid
        |       GROUP BY 1),
        |hr AS (SELECT b.query_id, COUNT(*) AS nh FROM brute b
        |       JOIN rrk p ON p.query_id = b.query_id AND p.vec_id = b.vid
        |       GROUP BY 1)
        |SELECT q.query_id,
        |       CAST(COALESCE(ha.nh, 0) AS BIGINT) AS n_adc,
        |       CAST(COALESCE(ha.nh, 0) AS DOUBLE) / 10 AS recall_adc,
        |       CAST(COALESCE(hr.nh, 0) AS BIGINT) AS n_rerank,
        |       CAST(COALESCE(hr.nh, 0) AS DOUBLE) / 10 AS recall_rerank
        |FROM (SELECT DISTINCT query_id FROM brute) q
        |LEFT JOIN ha ON ha.query_id = q.query_id
        |LEFT JOIN hr ON hr.query_id = q.query_id""".stripMargin)),

    // ---- similarity: Matryoshka truncation WIDTH SWEEP — the curve
    // behind choosing the low-dim tier (sim_trunc_recall measures one
    // width; this measures the trade across widths in one pass) ----------
    Q("sim_trunc_sweep",
      (s, d) => EmbeddingOps.truncRecallSweep(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$BruteTop10Cte,
        |${Seq(8, 16, 32).map(truncArmSql).mkString(",\n")}
        |${Seq(8, 16, 32).map(truncTailSql).mkString("\nUNION ALL\n")}""".stripMargin)),

    // ---- similarity: Matryoshka sweep -> SELECT -> build -> SERVE --------
    // (the composition that makes the sweep feed a decision: the
    // cheapest width clearing the recall floor is chosen DRIVER-SIDE
    // on the 3-row sweep card, the corpus persists at that width as a
    // flat tier, and serving reports recall@10 against the full-width
    // brute baseline. Floor 200 permille keeps the choice genuinely
    // scale-dependent: dim 16 at sf0.001, dim 32 at sf0.01/0.1 —
    // measured, never the degenerate min or the fallback max. The
    // oracle replays selection and serving from the same sweep arms.)
    Q("sim_trunc_serve",
      (s, d) => {
        val e = emb(s, d)
        val dir = cachedIndex("trunc", d, p => {
          EmbeddingOps.truncIndexBuild(e, p,
            recallFloorMilli = TruncServeFloorMilli)
          ()
        })
        EmbeddingOps.truncServeRecall(s, dir, e)
      },
      Some(s"""WITH $EmbCte,
        |$BruteTop10Cte,
        |${Seq(8, 16, 32).map(truncArmSql).mkString(",\n")},
        |allarms AS (${Seq(8, 16, 32).map(truncTailSql)
                       .mkString("\nUNION ALL\n")}),
        |card AS (SELECT trunc_dim, SUM(n_overlap) AS hits
        |         FROM allarms GROUP BY 1),
        |pick AS (SELECT COALESCE(
        |    MIN(CASE WHEN hits * 1000 >= $TruncServeFloorMilli * 50
        |             THEN trunc_dim END),
        |    MAX(trunc_dim)) AS dim FROM card)
        |SELECT a.trunc_dim, a.query_id, a.n_overlap, a.recall_at_k
        |FROM allarms a, pick p WHERE a.trunc_dim = p.dim""".stripMargin)),

    // ---- similarity: PQ recall@10 vs the exact brute top-10 — every
    // approximate route ships with its recall measurement -----------------
    Q("sim_pq_recall",
      (s, d) => EmbeddingOps.pqRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$PqScoreCte,
        |pqk AS (SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM sc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("pqk")}""".stripMargin)),

    // ---- similarity: trained-PQ recall@10 — the per-subspace Lloyd
    // loop composed with the ADC probe, next to the seed-codebook row --
    Q("sim_pq_trained_recall",
      (s, d) => EmbeddingOps.pqRecallTrained(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$PqSubCte,
        |pcb0 AS (SELECT s, code, cq FROM cb),
        |${pqTrainRounds(PqTrainIters)},
        |${pqScoreAgainst(s"pcb$PqTrainIters", "f")},
        |pqk AS (SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
        |  FROM fsc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("pqk")}""".stripMargin)),

    // ---- similarity: truncated-dimension (Matryoshka) recall@10 ----------
    // (the fourth approximate route next to LSH/IVF/PQ: first 16 of 64
    // dims; recall 0.1-0.3 at the test SFs — the row MEASURES the
    // truncation cost, like the other recall rows)
    Q("sim_trunc_recall",
      (s, d) => EmbeddingOps.truncRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |te AS (SELECT vec_id, q[1:16] AS q FROM e),
        |tn AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nn
        |       FROM (SELECT vec_id, unnest(q) AS v FROM te) GROUP BY 1),
        |tp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
        |              unnest(qe.q) AS a, unnest(ce.q) AS b
        |       FROM te qe, te ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |td AS (SELECT query_id, vid, SUM(a*b) AS dot FROM tp GROUP BY 1, 2),
        |tsc AS (SELECT query_id, vid,
        |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM td JOIN tn nq ON nq.vec_id = query_id
        |                 JOIN tn nv ON nv.vec_id = vid),
        |tk AS (SELECT query_id, vid AS vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM tsc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("tk")}""".stripMargin)),

    // ---- similarity: SQ8 scalar-quantized top-k + its recall row --------
    // (per-dim [mn,mx] ranges -> byte codes -> exact-integer
    // reconstruction ranking; the SqCte constant feeds both rows so the
    // code/reconstruction arithmetic cannot drift between them)
    Q("sim_sq8_topk",
      (s, d) => EmbeddingOps.sq8TopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$SqCte,
        |sp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid, ce.label,
        |              unnest(qe.r) AS a, unnest(ce.r) AS b
        |       FROM rc qe, rc ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |sd AS (SELECT query_id, vid, label, SUM(a*b) AS dot FROM sp GROUP BY 1, 2, 3),
        |ssc AS (SELECT query_id, vid, label,
        |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM sd JOIN rn nq ON nq.vec_id = query_id
        |                JOIN rn nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, label, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM ssc) WHERE rk <= 10""".stripMargin)),

    Q("sim_sq8_recall",
      (s, d) => EmbeddingOps.sq8Recall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$SqCte,
        |sp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
        |              unnest(qe.r) AS a, unnest(ce.r) AS b
        |       FROM rc qe, rc ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |sd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM sp GROUP BY 1, 2),
        |ssc AS (SELECT query_id, vid,
        |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM sd JOIN rn nq ON nq.vec_id = query_id
        |                JOIN rn nv ON nv.vec_id = vid),
        |sk AS (SELECT query_id, vid AS vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM ssc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("sk")}""".stripMargin)),

    // ---- similarity: single-probe LSH recall row ------------------------
    // (the recall measurement the LSH route was missing: same-bucket
    // candidates only, exact-cosine ranked — what single-probe misses
    // is what sim_lsh_multiprobe buys back)
    Q("sim_lsh_recall",
      (s, d) => EmbeddingOps.lshRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$LshBucketCte,
        |lq AS (SELECT vec_id AS query_id, q, bucket FROM eb WHERE vec_id < 5),
        |lp AS (SELECT lq.query_id, ce.vec_id AS vid, unnest(lq.q) AS a, unnest(ce.q) AS b
        |       FROM lq JOIN eb ce ON ce.bucket = lq.bucket AND ce.vec_id <> lq.query_id),
        |ld AS (SELECT query_id, vid, SUM(a*b) AS dot FROM lp GROUP BY 1, 2),
        |lsc AS (SELECT query_id, vid,
        |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM ld JOIN n nq ON nq.vec_id = query_id
        |                JOIN n nv ON nv.vec_id = vid),
        |lk AS (SELECT query_id, vid AS vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM lsc) WHERE rk <= 10),
        |$BruteTop10Cte,
        |${recallTail("lk")}""".stripMargin)),

    // ---- similarity: PERSISTED SQ8 index serving (codes-only) -----------
    // (build once into the managed scratch dir, serve the corpus
    // queries from stored int16 codes + the Dim-row ranges table —
    // byte-identical to the live sim_sq8_topk ranking, same oracle)
    Q("sim_sq8_persisted",
      (s, d) => {
        val dir = cachedIndex("sq8", d,
          p => EmbeddingOps.sq8IndexWrite(emb(s, d), p))
        EmbeddingOps.sq8TopKIndexed(s, dir,
          emb(s, d).where(col("vec_id") < 5))
      },
      Some(s"""WITH $EmbCte,
        |$SqCte,
        |sp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid, ce.label,
        |              unnest(qe.r) AS a, unnest(ce.r) AS b
        |       FROM rc qe, rc ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |sd AS (SELECT query_id, vid, label, SUM(a*b) AS dot FROM sp GROUP BY 1, 2, 3),
        |ssc AS (SELECT query_id, vid, label,
        |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM sd JOIN rn nq ON nq.vec_id = query_id
        |                JOIN rn nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, label, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
        |  FROM ssc) WHERE rk <= 10""".stripMargin)),

    // ---- similarity: per-label embedding mass card ----------------------
    Q("sim_embedding_stats",
      (s, d) => EmbeddingOps.embeddingStats(emb(s, d)),
      Some(s"""WITH $EmbCte
        |SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(SUM(n.nn) AS BIGINT) AS sum_nn,
        |       CAST(MIN(n.nn) AS BIGINT) AS min_nn,
        |       CAST(MAX(n.nn) AS BIGINT) AS max_nn
        |FROM e JOIN n USING (vec_id)
        |GROUP BY 1""".stripMargin)),

    // ---- similarity: quantizer-training drift diagnostics ---------------
    // (per centroid: exact squared L2 seed->trained movement + the
    // seed-vs-trained cosine — the retrain-monitoring row; oracle
    // reuses the Lloyd-round CTE generator, so the training
    // arithmetic cannot drift from the IVF routes)
    Q("sim_centroid_drift",
      (s, d) => EmbeddingOps.centroidDrift(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${kmeansCellsCte(EmbeddingOps.KmIters)},
        |dp AS (SELECT s.cent_id, s.cn AS sn, t.cn AS tn,
        |              unnest(s.cq) AS a, unnest(t.cq) AS b
        |       FROM cents0 s JOIN cents${EmbeddingOps.KmIters} t USING (cent_id)),
        |g AS (SELECT cent_id, sn, tn,
        |             CAST(SUM((a - b) * (a - b)) AS BIGINT) AS drift_sq,
        |             SUM(a * b) AS dot
        |      FROM dp GROUP BY 1, 2, 3)
        |SELECT CAST(cent_id AS BIGINT) AS cent_id, drift_sq,
        |       CAST(dot AS DOUBLE) / (sqrt(CAST(sn AS DOUBLE)) * sqrt(CAST(tn AS DOUBLE))) AS cos
        |FROM g""".stripMargin)),

    // ---- similarity: the IVF trainer — one exact Lloyd update step ------
    Q("sim_kmeans_step",
      (s, d) => EmbeddingOps.kmeansStep(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
        |          FROM e JOIN n USING (vec_id) WHERE vec_id < 16),
        |eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
        |scored AS (
        |  SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
        |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
        |    FROM eq, cents c) GROUP BY 1, 2),
        |rankedc AS (
        |  SELECT s.vec_id, s.cent_id,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
        |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
        |           s.cent_id) AS crk
        |  FROM scored s JOIN n nv ON nv.vec_id = s.vec_id
        |                JOIN cents c ON c.cent_id = s.cent_id),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc WHERE crk = 1),
        |comp AS (SELECT cl.cell,
        |                CAST(generate_subscripts(e.q, 1) - 1 AS INTEGER) AS c,
        |                unnest(e.q) AS v
        |         FROM cells cl JOIN e ON e.vec_id = cl.vec_id)
        |SELECT cell, c, COUNT(*) AS n_members,
        |       CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS mean_v
        |FROM comp GROUP BY 1, 2""".stripMargin)),

    // ---- similarity: the closed loop — trained-IVF recall@10 vs brute ---
    // 2 Lloyd rounds -> trained centroids -> nProbe=4 probe -> exact
    // per-query overlap with the true top-10. Every stage is exact
    // integer/deterministic, so the recall itself is oracle-checked.
    Q("sim_ivf_recall",
      (s, d) => EmbeddingOps.ivfRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |$IvfRecallSql""".stripMargin)),

    // ---- similarity: margin-based mutual-best pair mining ----------------
    // Even/odd vec_id halves stand in for the two sides of a bitext
    // corpus; cosines quantize to micro-units BEFORE the neighborhood
    // sums so every comparison downstream is exact BIGINT.
    Q("sim_margin_mine",
      (s, d) => EmbeddingOps.marginMine(emb(s, d), kNn = 4),
      Some(s"""WITH $EmbCte,
        |p AS (SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b,
        |             unnest(ea.q) AS x, unnest(eb.q) AS y
        |      FROM e ea, e eb
        |      WHERE ea.vec_id % 2 = 0 AND eb.vec_id % 2 = 1),
        |dots AS (SELECT vec_a, vec_b, SUM(x*y) AS dot FROM p GROUP BY 1, 2),
        |cqs AS (SELECT vec_a, vec_b,
        |          CAST(floor(CAST(dot AS DOUBLE)
        |            / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
        |            * 1000000) AS BIGINT) AS cq
        |        FROM dots JOIN n na ON na.vec_id = vec_a
        |                  JOIN n nb ON nb.vec_id = vec_b),
        |sa AS (SELECT vec_a, CAST(SUM(cq) AS BIGINT) AS sum_a FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a
        |           ORDER BY cq DESC, vec_b) AS rk FROM cqs)
        |       WHERE rk <= 4 GROUP BY 1),
        |sb AS (SELECT vec_b, CAST(SUM(cq) AS BIGINT) AS sum_b FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_b
        |           ORDER BY cq DESC, vec_a) AS rk FROM cqs)
        |       WHERE rk <= 4 GROUP BY 1),
        |m AS (SELECT vec_a, vec_b, cq, cq * 8 * 1000 // (sum_a + sum_b) AS margin_q
        |      FROM cqs JOIN sa USING (vec_a) JOIN sb USING (vec_b)
        |      WHERE cq > 0 AND sum_a + sum_b > 0),
        |fwd AS (SELECT vec_a, vec_b, cq, margin_q FROM (
        |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a
        |            ORDER BY margin_q DESC, vec_b) AS rk FROM m)
        |        WHERE rk = 1),
        |bwd AS (SELECT vec_a, vec_b FROM (
        |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_b
        |            ORDER BY margin_q DESC, vec_a) AS rk FROM m)
        |        WHERE rk = 1)
        |SELECT fwd.vec_a, fwd.vec_b, fwd.cq, fwd.margin_q
        |FROM fwd JOIN bwd USING (vec_a, vec_b)""".stripMargin)),

    // ---- similarity: margin mining, LSH-candidate scale twin -------------
    // Same margin pipeline over co-bucketed candidates only (4 planes,
    // the dedup_embedding_lsh candidate generator) — neighborhood sums
    // run over what each side actually retrieves, the standard
    // ANN-approximated margin.
    Q("sim_margin_lsh",
      (s, d) => EmbeddingOps.marginMineLsh(emb(s, d), kNn = 4, nPlanes = 4),
      Some(s"""WITH $EmbCte,
        |${lshBucketCte(4)},
        |pp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |              unnest(a.q) AS x, unnest(b.q) AS y
        |       FROM eb a JOIN eb b ON a.bucket = b.bucket
        |       WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |dots AS (SELECT vec_a, vec_b, SUM(x*y) AS dot FROM pp GROUP BY 1, 2),
        |cqs AS (SELECT vec_a, vec_b,
        |          CAST(floor(CAST(dot AS DOUBLE)
        |            / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
        |            * 1000000) AS BIGINT) AS cq
        |        FROM dots JOIN n na ON na.vec_id = vec_a
        |                  JOIN n nb ON nb.vec_id = vec_b),
        |sa AS (SELECT vec_a, CAST(SUM(cq) AS BIGINT) AS sum_a FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a
        |           ORDER BY cq DESC, vec_b) AS rk FROM cqs)
        |       WHERE rk <= 4 GROUP BY 1),
        |sb AS (SELECT vec_b, CAST(SUM(cq) AS BIGINT) AS sum_b FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_b
        |           ORDER BY cq DESC, vec_a) AS rk FROM cqs)
        |       WHERE rk <= 4 GROUP BY 1),
        |m AS (SELECT vec_a, vec_b, cq, cq * 8 * 1000 // (sum_a + sum_b) AS margin_q
        |      FROM cqs JOIN sa USING (vec_a) JOIN sb USING (vec_b)
        |      WHERE cq > 0 AND sum_a + sum_b > 0),
        |fwd AS (SELECT vec_a, vec_b, cq, margin_q FROM (
        |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a
        |            ORDER BY margin_q DESC, vec_b) AS rk FROM m)
        |        WHERE rk = 1),
        |bwd AS (SELECT vec_a, vec_b FROM (
        |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_b
        |            ORDER BY margin_q DESC, vec_a) AS rk FROM m)
        |        WHERE rk = 1)
        |SELECT fwd.vec_a, fwd.vec_b, fwd.cq, fwd.margin_q
        |FROM fwd JOIN bwd USING (vec_a, vec_b)""".stripMargin)),

    // ---- similarity: JL signed-projection sketch top-k + recall ----------
    // The pd CTE of the shared LSH block IS the projection (per-plane
    // exact integer dots, kept unsigned); 16 planes fold 64 dims.
    Q("sim_proj_topk",
      (s, d) => EmbeddingOps.projTopK(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${lshBucketCte(16)},
        |pv AS (SELECT vec_id, list_transform(
        |         list_sort(list(struct_pack(plane := plane,
        |           pc := CAST(pdot AS BIGINT)))), r -> r.pc) AS p
        |       FROM pd GROUP BY 1),
        |pu AS (SELECT vec_id, unnest(p) AS v FROM pv),
        |pnn AS (SELECT vec_id, SUM(v*v) AS nn FROM pu GROUP BY 1),
        |pp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
        |              unnest(qe.p) AS a, unnest(ce.p) AS b
        |       FROM pv qe, pv ce
        |       WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |pd2 AS (SELECT query_id, vid, SUM(a*b) AS dot FROM pp GROUP BY 1, 2),
        |psc AS (SELECT query_id, vid,
        |          CAST(dot AS DOUBLE)
        |            / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |        FROM pd2 JOIN pnn nq ON nq.vec_id = query_id
        |                  JOIN pnn nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id,
        |       e.label, cos
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, vid) AS rk FROM psc) t
        |JOIN e ON e.vec_id = t.vid
        |WHERE rk <= 10""".stripMargin)),

    Q("sim_proj_recall",
      (s, d) => EmbeddingOps.projRecall(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${lshBucketCte(16)},
        |pv AS (SELECT vec_id, list_transform(
        |         list_sort(list(struct_pack(plane := plane,
        |           pc := CAST(pdot AS BIGINT)))), r -> r.pc) AS p
        |       FROM pd GROUP BY 1),
        |pu AS (SELECT vec_id, unnest(p) AS v FROM pv),
        |pnn AS (SELECT vec_id, SUM(v*v) AS nn FROM pu GROUP BY 1),
        |pp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
        |              unnest(qe.p) AS a, unnest(ce.p) AS b
        |       FROM pv qe, pv ce
        |       WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |pd2 AS (SELECT query_id, vid, SUM(a*b) AS dot FROM pp GROUP BY 1, 2),
        |pt AS (SELECT query_id, vid FROM (
        |         SELECT query_id, vid, ROW_NUMBER() OVER (
        |           PARTITION BY query_id ORDER BY
        |             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE))
        |               * sqrt(CAST(nv.nn AS DOUBLE))) DESC, vid) AS rk
        |         FROM pd2 JOIN pnn nq ON nq.vec_id = query_id
        |                   JOIN pnn nv ON nv.vec_id = vid)
        |       WHERE rk <= 10),
        |bp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
        |              unnest(qe.q) AS a, unnest(ce.q) AS b
        |       FROM e qe, e ce
        |       WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
        |bd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM bp GROUP BY 1, 2),
        |bt AS (SELECT query_id, vid FROM (
        |         SELECT query_id, vid, ROW_NUMBER() OVER (
        |           PARTITION BY query_id ORDER BY
        |             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE))
        |               * sqrt(CAST(nv.nn AS DOUBLE))) DESC, vid) AS rk
        |         FROM bd JOIN n nq ON nq.vec_id = query_id
        |                 JOIN n nv ON nv.vec_id = vid)
        |       WHERE rk <= 10)
        |SELECT b.query_id,
        |       CAST(count(p.vid) AS BIGINT) AS n_overlap,
        |       CAST(count(p.vid) AS DOUBLE) / 10 AS recall_at_k
        |FROM bt b LEFT JOIN pt p ON p.query_id = b.query_id
        |                        AND p.vid = b.vid
        |GROUP BY 1""".stripMargin)),

    // ---- analysis: SimHash hamming top-k document retrieval --------------
    Q("sim_simhash_topk",
      (s, d) => TextOps.simhashTopK(docs(s, d)),
      Some(s"""WITH $TokCte,
        |$SimhashSql,
        |q AS (SELECT doc_id AS query_id, simhash AS qh FROM shh
        |      WHERE doc_id < 5),
        |sc AS (SELECT query_id, doc_id,
        |         CAST(bit_count(xor(qh, simhash)) AS INTEGER) AS hamming
        |       FROM shh, q WHERE doc_id <> query_id)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, doc_id, hamming
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY hamming, doc_id) AS rk FROM sc)
        |WHERE rk <= 10""".stripMargin)),

    // ---- similarity: per-dimension robust statistics ---------------------
    Q("sim_dim_stats",
      (s, d) => EmbeddingOps.dimStats(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |u2 AS (SELECT generate_subscripts(q, 1) - 1 AS c, unnest(q) AS v
        |       FROM e),
        |vc AS (SELECT c, v, CAST(count(*) AS BIGINT) AS cnt
        |       FROM u2 GROUP BY 1, 2),
        |nn2 AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS n,
        |               MIN(v) AS min_q, MAX(v) AS max_q
        |        FROM vc GROUP BY 1),
        |cum AS (SELECT c, v, SUM(cnt) OVER (PARTITION BY c ORDER BY v)
        |          AS cum
        |        FROM vc),
        |md AS (SELECT cum.c, MIN(v) AS median_q
        |       FROM cum JOIN nn2 ON nn2.c = cum.c
        |       WHERE cum >= (n + 1) // 2 GROUP BY 1)
        |SELECT CAST(nn2.c AS INTEGER) AS c, min_q, max_q, median_q
        |FROM nn2 JOIN md ON md.c = nn2.c""".stripMargin)),

    // ---- similarity: contrastive hard-negative mining --------------------
    Q("sim_hard_negatives",
      (s, d) => EmbeddingOps.hardNegatives(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |p AS (SELECT qe.vec_id AS query_id, qe.label AS qlabel,
        |             ce.vec_id AS vid, ce.label,
        |             unnest(qe.q) AS a, unnest(ce.q) AS b
        |      FROM e qe, e ce
        |      WHERE qe.vec_id < 5 AND ce.label <> qe.label),
        |dots AS (SELECT query_id, vid, label, SUM(a*b) AS dot
        |         FROM p GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, vid, label,
        |              CAST(dot AS DOUBLE)
        |                / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
        |       FROM dots JOIN n nq ON nq.vec_id = query_id
        |                 JOIN n nv ON nv.vec_id = vid)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vid AS vec_id, label, cos
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, vid) AS rk FROM sc)
        |WHERE rk <= 10""".stripMargin)),

    // ---- analysis: cluster-topic labeling (embeddings x text) ------------
    // The SemDeDup cell partition joined to the document table by id,
    // each cell labeled by its distinctive vocabulary.
    Q("sim_cluster_topics",
      (s, d) => TextOps.clusterTopics(docs(s, d), emb(s, d)),
      Some(s"""WITH $EmbCte,
        |${kmeansCellsCte(EmbeddingOps.KmIters)},
        |sw AS (SELECT 'c' || CAST(cl.cell AS VARCHAR) AS source,
        |              unnest(string_split(d.text, ' ')) AS word
        |       FROM documents d JOIN cells cl ON cl.vec_id = d.doc_id),
        |cs AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c_s
        |       FROM sw GROUP BY 1, 2),
        |cw AS (SELECT word, CAST(SUM(c_s) AS BIGINT) AS c_w FROM cs GROUP BY 1),
        |ts AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS t_s FROM cs GROUP BY 1),
        |ta AS (SELECT CAST(SUM(c_s) AS BIGINT) AS t_all FROM cs),
        |sc2 AS (SELECT source, word, c_s, c_w - c_s AS c_r, t_s,
        |               t_all - t_s AS t_r
        |        FROM cs JOIN cw USING (word) JOIN ts USING (source), ta),
        |qx AS (SELECT source, word, c_s, c_r,
        |         CAST(length(bin(CAST(CAST(c_s AS HUGEINT) * t_r
        |           // (CAST(c_r + 1 AS HUGEINT) * t_s) AS BIGINT))) - 1
        |           AS BIGINT) AS score_q
        |       FROM sc2
        |       WHERE CAST(c_s AS HUGEINT) * t_r >= CAST(c_r + 1 AS HUGEINT) * t_s)
        |SELECT source AS cell, CAST(rk AS INTEGER) AS rk, word, c_s, c_r,
        |       score_q
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY score_q DESC, c_s DESC, word) AS rk FROM qx)
        |WHERE rk <= 5""".stripMargin)),

    // ---- similarity: nearest-centroid classification audit ---------------
    Q("sim_centroid_classify",
      (s, d) => EmbeddingOps.centroidClassify(emb(s, d)),
      Some(s"""WITH $EmbCte,
        |cm AS (SELECT label, c, CAST(SUM(v) AS BIGINT) // count(*) AS m
        |       FROM (SELECT label, unnest(q) AS v,
        |               generate_subscripts(q, 1) AS c FROM e)
        |       GROUP BY 1, 2),
        |cv AS (SELECT label AS pred, list_transform(
        |         list_sort(list(struct_pack(c := c, m := m))),
        |         r -> r.m) AS cq
        |       FROM cm GROUP BY 1),
        |cn AS (SELECT pred, CAST(SUM(v*v) AS BIGINT) AS cn
        |       FROM (SELECT pred, unnest(cq) AS v FROM cv) GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, cv.pred,
        |         CAST(dot AS DOUBLE)
        |           / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.cn AS DOUBLE))) AS cos
        |       FROM (SELECT vec_id, pred, SUM(a*b) AS dot FROM (
        |               SELECT e2.vec_id, cv2.pred,
        |                      unnest(e2.q) AS a, unnest(cv2.cq) AS b
        |               FROM e e2, cv cv2) GROUP BY 1, 2) dd
        |       JOIN e ON e.vec_id = dd.vec_id
        |       JOIN cv ON cv.pred = dd.pred
        |       JOIN n ON n.vec_id = dd.vec_id
        |       JOIN cn ON cn.pred = dd.pred),
        |best AS (SELECT vec_id, label, pred FROM (
        |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY cos DESC, pred) AS rk FROM sc)
        |         WHERE rk = 1)
        |SELECT label, pred, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM best GROUP BY 1, 2""".stripMargin)),
  )
}
