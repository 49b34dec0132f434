package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingOps, Hybrid, IndexMetaCache, TextOps}

/** Serving-cadence job-count tripwire — the r17 metadata-cache win
  * frozen as a regression gate. A serve's job count is its dominant
  * latency term at serving cadence (each job is a driver round-trip,
  * multiplied on a pressured driver or remote store), and it is
  * plan-shape: environment-independent and deterministic, so it can
  * be pinned with a listener the way the bench pins it with anchors.
  *
  * Two contracts: (a) a WARM serve (metadata cache populated — the
  * steady state of any serving session) plans no more jobs than the
  * COLD one (the cache can only remove work); (b) the warm hybrid
  * serve stays under a generous ceiling that a regression to the
  * pre-cache shape (42 jobs at bench scale) would blow through.
  * Bounds are deliberately loose — the EXACT counts are the bench
  * anchors' job (BASELINE.md r17); this spec only catches the
  * re-introduction of per-serve metadata jobs. */
class ServeJobCountSpec extends SparkSpec {

  test("a warm serve plans no more jobs than a cold one, and the " +
    "warm hybrid stays far under the pre-cache shape") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents.toDF()
      .where(col("doc_id") < 400).localCheckpoint()
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings.toDF()
      .where(col("vec_id") < 400).localCheckpoint()
    val bmIdx = java.nio.file.Files
      .createTempDirectory("graft_jobs_bm").resolve("ix").toString
    val pqIdx = java.nio.file.Files
      .createTempDirectory("graft_jobs_pq").resolve("ix").toString
    TextOps.bm25IndexWrite(docs, bmIdx)
    EmbeddingOps.ivfpqIndexWrite(emb, pqIdx)
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy(col("query_id"), col("word")).agg(count(lit(1)))
      .select(col("query_id"), col("word")).limit(40).localCheckpoint()
    val vq = emb.where(col("vec_id") < 5)

    def serveHybrid(): Unit =
      Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, queries, vq)
        .collect()

    IndexMetaCache.clearAll()
    val cold = countJobs(serveHybrid())
    val warm = countJobs(serveHybrid())
    assert(warm <= cold,
      s"warm serve planned MORE jobs than cold ($warm > $cold) — " +
        "the metadata cache added work instead of removing it")
    // pre-cache the same serve shape planned ~40 jobs; the warm
    // steady state sits around the low 20s at spec scale — 32 is the
    // loose tripwire between the two regimes
    assert(warm <= 32,
      s"warm hybrid serve planned $warm jobs — the per-serve " +
        "metadata jobs are back (params .head / quantizer scans / " +
        "totals agg / term-bucket collects); see IndexMetaCache")

    // single-arm spot check: warm BM25 indexed serve
    val warmBm = countJobs {
      TextOps.bm25TopKIndexed(spark, bmIdx, Seq("the", "of", "data"))
        .collect(); ()
    }
    assert(warmBm <= 10,
      s"warm bm25TopKIndexed planned $warmBm jobs (expected <= 10)")

    // multi-term family: resolution is ONE capped dict collect on
    // top of the literal-terms serve — a second metadata job class
    // (per-segment dict reads, unpinned totals) would blow this
    val warmPrefix = countJobs {
      TextOps.bm25TopKPrefix(spark, bmIdx, "t").collect(); ()
    }
    assert(warmPrefix <= warmBm + 4,
      s"warm bm25TopKPrefix planned $warmPrefix jobs vs $warmBm for " +
        "the literal serve — dict resolution should cost ~one " +
        "collect, not a per-segment job class")
  }
}
