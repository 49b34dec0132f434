package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingOps, Hybrid, TextOps}

/** Batched BM25 serving + hybrid (RRF) retrieval. */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus =
    Tables(spark, "/root/testdata/sf0.001").documents.localCheckpoint()
  private lazy val emb =
    Tables(spark, "/root/testdata/sf0.001").embeddings.toDF()
      .localCheckpoint()

  private def freshDir(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_$tag").resolve("ix").toString

  /** The per-query term sets used throughout: distinct words among
    * the first n tokens of each query doc. */
  private def termQueries(nQ: Int, nTok: Int) = corpus
    .where($"doc_id" < nQ)
    .select($"doc_id".as("query_id"),
      explode(slice(split($"text", " "), 1, nTok)).as("word"))
    .distinct()

  test("bm25TopKIndexedBatch equals the single-query serve per query, " +
    "collapses duplicate (query, word) pairs, and threads asOf") {
    val idx = freshDir("bm25_batch_idx")
    TextOps.bm25IndexWrite(corpus, idx)
    val qw = termQueries(3, 8).localCheckpoint()
    val batch = TextOps.bm25TopKIndexedBatch(spark, idx, qw, k = 10)
      .collect()
    // per-query parity with the single serve: same docs, same stats,
    // same order (rk ascending == the single serve's sort)
    qw.select($"query_id").distinct().as[Long].collect().sorted
      .foreach { q =>
        val terms = qw.where($"query_id" === q)
          .select($"word").as[String].collect().toSeq.sorted
        val single = TextOps.bm25TopKIndexed(spark, idx, terms, k = 10)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        val mine = batch.filter(_.getLong(0) == q).sortBy(_.getInt(1))
          .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))
        assert(mine.sameElements(single),
          s"batch serve diverges from single serve for query $q")
      }
    // a term BAG must serve identically to the term SET
    val bag = qw.unionAll(qw.where($"query_id" === 0))
    val viaBag = TextOps.bm25TopKIndexedBatch(spark, idx, bag, k = 10)
      .collect().map(_.toString).sorted
    assert(viaBag.sameElements(batch.map(_.toString).sorted),
      "duplicate (query, word) pairs changed the batch serve")
    // asOf: capture, then tombstone query 0's top-1 doc — the pinned
    // batch replays the capture-time view, the live serve must lose
    // the victim. (Appending an exact corpus COPY would be a
    // degenerate mutation here: BM25's idf and saturation are
    // scale-invariant ratios, so a doubled corpus scores identically
    // and ties break back to the original ids.)
    val snap = EmbeddingOps.indexSnapshot(spark, idx)
    val victim = batch
      .filter(r => r.getLong(0) == 0L && r.getInt(1) == 1)
      .map(_.getLong(2)).head
    EmbeddingOps.indexDelete(spark, idx,
      Seq(victim).toDF("doc_id"), keyCol = "doc_id")
    val pinned = TextOps
      .bm25TopKIndexedBatch(spark, idx, qw, k = 10, asOf = Some(snap))
      .collect().map(_.toString).sorted
    assert(pinned.sameElements(batch.map(_.toString).sorted),
      "pinned batch serve does not replay the capture-time view")
    val live = TextOps.bm25TopKIndexedBatch(spark, idx, qw, k = 10)
      .collect()
    assert(!live.exists(r => r.getLong(0) == 0L &&
        r.getLong(2) == victim),
      "live serve still returns the tombstoned doc")
  }

  test("an over-limit query batch takes the distributed route and " +
    "serves identical rows — the LocalRelation fast path is a driver-" +
    "memory bound, not a semantic fork") {
    val idx = freshDir("bm25_batch_dist_idx")
    TextOps.bm25IndexWrite(corpus, idx)
    val qw = termQueries(3, 8).localCheckpoint()
    val fast = TextOps.bm25TopKIndexedBatch(spark, idx, qw, k = 10)
      .collect().map(_.toString).sorted
    // localPairLimit = 1 forces every real batch over the gate: the
    // pairs stay a distributed frame, only the term union collects
    val dist = TextOps.bm25TopKIndexedBatch(spark, idx, qw, k = 10,
        localPairLimit = 1)
      .collect().map(_.toString).sorted
    assert(dist.sameElements(fast),
      "distributed batch route diverges from the LocalRelation route")
  }

  test("rrfFuse: two-term reciprocal-rank arithmetic, one-armed " +
    "candidates score, equal scores break ties by cand_id") {
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 40L, 3))
      .toDF("query_id", "cand_id", "rk")
    val dense = Seq((1L, 20L, 1), (1L, 30L, 3))
      .toDF("query_id", "cand_id", "rk")
    val out = Hybrid.rrfFuse(lex, dense, k = 10)
      .orderBy($"rk").collect()
    // cand 20 in both arms: 1/62 + 1/61; cand 10 lex-only 1/61;
    // cand 40 lex-only 1/63; cand 30 dense-only 1/63 — 40 and 30 tie
    // EXACTLY (same arm rank), so cand_id must order them
    assert(out.map(_.getLong(2)).sameElements(Array(20L, 10L, 30L, 40L)))
    val rrf = out.map(r => r.getDouble(5))
    assert(rrf(0) == 1.0 / 62 + 1.0 / 61)
    assert(rrf(1) == 1.0 / 61)
    assert(rrf(2) == 1.0 / 63 && rrf(3) == 1.0 / 63)
    // arm ranks surface, null for the arm that missed the candidate
    val c30 = out.find(_.getLong(2) == 30L).get
    assert(c30.isNullAt(3) && c30.getInt(4) == 3)
  }

  test("hybridTopKIndexed: fused serve is deterministic and the two " +
    "asOf tokens pin the composed answer under mutation of BOTH " +
    "indexes") {
    val bmIdx = freshDir("hyb_bm25_idx")
    val pqIdx = freshDir("hyb_ivfpq_idx")
    TextOps.bm25IndexWrite(corpus, bmIdx)
    EmbeddingOps.ivfpqIndexWrite(emb, pqIdx)
    val qw = termQueries(5, 8).localCheckpoint()
    val vq = emb.where($"vec_id" < 5)
    val before = Hybrid
      .hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq)
      .collect().map(_.toString).sorted
    assert(before.nonEmpty)
    val bmSnap = EmbeddingOps.indexSnapshot(spark, bmIdx)
    val pqSnap = EmbeddingOps.indexSnapshot(spark, pqIdx)
    // mutate both indexes: lexical gains a shifted corpus copy,
    // dense loses half its vectors
    TextOps.bm25IndexAppend(
      corpus.select(($"doc_id" + 100000L).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars"), bmIdx)
    EmbeddingOps.indexDelete(spark, pqIdx,
      emb.where($"vec_id" % 2 === 0 && $"vec_id" >= 5)
        .select($"vec_id"))
    val pinned = Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq,
      lexAsOf = Some(bmSnap), denseAsOf = Some(pqSnap))
      .collect().map(_.toString).sorted
    assert(pinned.sameElements(before),
      "pinned hybrid serve does not replay the capture-time answer")
    val live = Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq)
      .collect().map(_.toString).sorted
    assert(!live.sameElements(before),
      "live hybrid serve should see both mutations")
  }

  test("run manifest: round-trip, strict refusals, and a hybrid " +
    "served from re-read tokens replays the pinned surface " +
    "bit-identically under mutation of both indexes") {
    val bmIdx = freshDir("man_bm25_idx")
    val pqIdx = freshDir("man_ivfpq_idx")
    TextOps.bm25IndexWrite(corpus, bmIdx)
    EmbeddingOps.ivfpqIndexWrite(emb, pqIdx)
    val qw = termQueries(5, 8).localCheckpoint()
    val vq = emb.where($"vec_id" < 5)
    val tokens = Map(
      "lex" -> EmbeddingOps.indexSnapshot(spark, bmIdx),
      "dense" -> EmbeddingOps.indexSnapshot(spark, pqIdx))
    val before = Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq,
      lexAsOf = Some(tokens("lex")), denseAsOf = Some(tokens("dense")))
      .collect().map(_.toString).sorted
    val man = java.nio.file.Files
      .createTempDirectory("graft_manifest").resolve("run.manifest")
      .toString
    EmbeddingOps.manifestWrite(spark, man, tokens)
    assert(EmbeddingOps.manifestRead(spark, man) == tokens,
      "manifest round-trip lost or altered tokens")
    // mutate both indexes, then serve from the RE-READ manifest —
    // the training run's recorded surface replays exactly
    TextOps.bm25IndexAppend(
      corpus.select(($"doc_id" + 200000L).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars"), bmIdx)
    EmbeddingOps.indexDelete(spark, pqIdx,
      emb.where($"vec_id" % 2 === 1 && $"vec_id" >= 5)
        .select($"vec_id"))
    val reread = EmbeddingOps.manifestRead(spark, man)
    val pinned = Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq,
      lexAsOf = Some(reread("lex")), denseAsOf = Some(reread("dense")))
      .collect().map(_.toString).sorted
    assert(pinned.sameElements(before),
      "manifest-pinned hybrid serve does not replay the recorded run")
    // refusals: empty manifest, delimiter in a name, wrong header,
    // tampered entry line
    assert(intercept[IllegalArgumentException] {
      EmbeddingOps.manifestWrite(spark, s"$man.empty", Map.empty)
    }.getMessage.contains("empty run manifest"))
    assert(intercept[IllegalArgumentException] {
      EmbeddingOps.manifestWrite(spark, s"$man.tab",
        Map("a\tb" -> tokens("lex")))
    }.getMessage.contains("free of"))
    val badHdr = s"$man.badhdr"
    java.nio.file.Files.write(java.nio.file.Paths.get(badHdr),
      "not-a-manifest\nlex\t{}\n".getBytes("UTF-8"))
    assert(intercept[IllegalArgumentException] {
      EmbeddingOps.manifestRead(spark, badHdr)
    }.getMessage.contains("not a graft run manifest"))
    val badLine = s"$man.badline"
    java.nio.file.Files.write(java.nio.file.Paths.get(badLine),
      "graft-manifest v1\nlex{\"epoch\":1}\n".getBytes("UTF-8"))
    assert(intercept[IllegalArgumentException] {
      EmbeddingOps.manifestRead(spark, badLine)
    }.getMessage.contains("malformed manifest line"))
  }

  test("manifest replay-guarantee window: per-arm retention expires " +
    "independently — one arm compacting past its window kills the " +
    "manifest replay with a refusal NAMING that arm, while the other " +
    "arm's entry still replays") {
    val bmIdx = freshDir("manwin_bm25_idx")
    val pqIdx = freshDir("manwin_ivfpq_idx")
    TextOps.bm25IndexWrite(corpus, bmIdx)
    EmbeddingOps.ivfpqIndexWrite(emb, pqIdx)
    val qw = termQueries(4, 8).localCheckpoint()
    val vq = emb.where($"vec_id" < 4)
    val tokens = Map(
      "lex" -> EmbeddingOps.indexSnapshot(spark, bmIdx),
      "dense" -> EmbeddingOps.indexSnapshot(spark, pqIdx))
    val man = java.nio.file.Files
      .createTempDirectory("graft_manwin").resolve("run.manifest")
      .toString
    EmbeddingOps.manifestWrite(spark, man, tokens)
    val denseBefore = EmbeddingOps.ivfpqTopKIndexed(spark, pqIdx, vq,
        asOf = Some(tokens("dense")))
      .collect().map(_.toString).sorted
    // compact the LEX arm twice (default retainEpochs = 1): the
    // first swap retires its epoch (the entry rides the grace), the
    // second prunes it — the lex entry is now past its window
    def churnAndCompactBm25(tagBase: Long): Unit = {
      TextOps.bm25IndexAppend(
        corpus.select(($"doc_id" + tagBase).as("doc_id"), $"text",
          $"lang", $"source", $"n_chars"), bmIdx)
      assert(TextOps.bm25IndexCompact(spark, bmIdx) >= 1)
    }
    churnAndCompactBm25(300000L)
    churnAndCompactBm25(400000L)
    val reread = EmbeddingOps.manifestRead(spark, man)
    // the whole-surface replay dies on the expired ARM, and the
    // refusal names it — that is what makes a multi-index manifest
    // diagnosable when arms expire independently
    val e = intercept[IllegalArgumentException] {
      Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq,
        lexAsOf = Some(reread("lex")),
        denseAsOf = Some(reread("dense"))).count()
    }
    assert(e.getMessage.contains("snapshot expired") &&
        e.getMessage.contains(bmIdx),
      s"the refusal must name the expired arm's index: ${e.getMessage}")
    // the dense arm's entry is untouched by the lex arm's compactions
    assert(EmbeddingOps.ivfpqTopKIndexed(spark, pqIdx, vq,
        asOf = Some(reread("dense")))
      .collect().map(_.toString).sorted.sameElements(denseBefore),
      "the surviving arm must keep replaying its pinned view")
    // the prescription in the manifestWrite contract, verified:
    // retention 2 on the hot arm widens ITS window to two swaps
    val bmIdx2 = freshDir("manwin_bm25_r2_idx")
    TextOps.bm25IndexWrite(corpus, bmIdx2)
    EmbeddingOps.setRetention(spark, bmIdx2, 2)
    val tok2 = EmbeddingOps.indexSnapshot(spark, bmIdx2)
    val lexBefore = TextOps.bm25TopKIndexedBatch(spark, bmIdx2, qw,
        asOf = Some(tok2)).collect().map(_.toString).sorted
    (1 to 2).foreach { i =>
      TextOps.bm25IndexAppend(
        corpus.select(($"doc_id" + 500000L * i).as("doc_id"), $"text",
          $"lang", $"source", $"n_chars"), bmIdx2)
      assert(TextOps.bm25IndexCompact(spark, bmIdx2) >= 1)
    }
    assert(TextOps.bm25TopKIndexedBatch(spark, bmIdx2, qw,
        asOf = Some(tok2)).collect().map(_.toString).sorted
      .sameElements(lexBefore),
      "retainEpochs=2 must carry a manifest entry through two swaps")
  }

  test("a malformed overlap timeout refuses before any job starts, at " +
    "the hybrid serve and at the BM25 compaction") {
    val bmIdx = freshDir("otimeout_bm25_idx")
    val pqIdx = freshDir("otimeout_ivfpq_idx")
    TextOps.bm25IndexWrite(corpus.where($"doc_id" < 200), bmIdx)
    TextOps.bm25IndexAppend(corpus.where($"doc_id" >= 200), bmIdx)
    EmbeddingOps.ivfpqIndexWrite(emb, pqIdx)
    val qw = termQueries(2, 8).localCheckpoint()
    val vq = emb.where($"vec_id" < 2)
    val conf = "spark.graft.overlapTimeoutSec"
    def refusal(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    spark.conf.set(conf, "abc")
    var msgs = Seq.empty[String]
    val jobs = try countJobs {
      msgs = Seq(refusal(Hybrid.hybridTopKIndexed(spark, bmIdx, pqIdx, qw, vq)),
        refusal(TextOps.bm25IndexCompact(spark, bmIdx)))
    } finally spark.conf.unset(conf)
    msgs.foreach(m => assert(m.contains(conf) && m.contains("abc"), m))
    assert(jobs == 0, s"$jobs jobs ran before the refusal")
    Seq("0", "-5").foreach { v =>
      spark.conf.set(conf, v)
      try assert(refusal(TextOps.bm25IndexCompact(spark, bmIdx))
        .contains(conf))
      finally spark.conf.unset(conf)
    }
    // nothing was half-done: the untouched root still compacts
    assert(TextOps.bm25IndexCompact(spark, bmIdx) == 2)
  }
}
