package graft

import org.apache.spark.sql.functions.{col, regexp_replace}

import graft.operators.{EmbeddingOps, TextOps}

import graft.SuiteMLShared._

/** Text-analysis and curation registry rows (language ID, quality,
  * LM/DSIR/NB filters, tokenizers, mixing, packing, BM25, curation
  * funnel).
  *
  * Split from the single SuiteML registry purely mechanically (the
  * per-family files concatenate into [[SuiteML.all]]); shared CTE
  * helpers live in [[SuiteMLShared]].
  */
private[graft] object SuiteMLText {

  /** The planted benchmark corpus for the decontamination rows: the
    * doc_id % 20 = 0 slice re-run through the SAME extraction the
    * chain applies (d1's text derivation), so every surviving % 20
    * doc is ~fully contained in its benchmark copy — the gate is
    * non-vacuous by construction. Shared by the recompute row
    * (curate's `benchmark`) and the served row (the persisted exact
    * index it builds), so the two routes screen against the
    * identical corpus. */
  private def decontBmk(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    TextOps.extractHtml(htmlFixture(
        docs(s, d).where(col("doc_id") % DecontMod === 0)))
      .select(col("doc_id"),
        regexp_replace(col("text_extracted"), "\n", " ").as("text"))

  /** The funnel report's UNION-ALL stage list as ONE generator —
    * the three funnel rows (plain, containment-gated,
    * decontaminated) differ only in their (stage name, CTE name)
    * lists, and hand-copied SQL drifts the moment a stage is added. */
  private def funnelStagesSql(stages: Seq[(String, String)]): String =
    "\nSELECT * FROM (\n" + stages.zipWithIndex.map {
      case ((stage, cte), 0) =>
        s"  SELECT CAST(1 AS BIGINT) AS stage_id, '$stage' AS stage,\n" +
          "    CAST(count(*) AS BIGINT) AS n_docs,\n" +
          "    CAST(COALESCE(SUM(len(string_split(text,' '))), 0) " +
          s"AS BIGINT) AS n_tokens FROM $cte"
      case ((stage, cte), i) =>
        s"  UNION ALL SELECT ${i + 1}, '$stage', " +
          "CAST(count(*) AS BIGINT),\n" +
          "    CAST(COALESCE(SUM(len(string_split(text,' '))), 0) " +
          s"AS BIGINT) FROM $cte"
    }.mkString("\n") + "\n)"

  private val BaseFunnel = Seq("extract" -> "d1",
    "dedup_exact" -> "d2", "langid" -> "d3", "quality" -> "d4")

  /** The decontaminated funnel's oracle — ONE string shared by the
    * recompute and served rows: equality of both against it
    * machine-proves the persisted-index route is a drop-in for the
    * in-flight gate. */
  private val DecontFunnelSql: String = "WITH RECURSIVE\n" +
    curateCteList("documents", benchMod = Some(DecontMod)) +
    funnelStagesSql(BaseFunnel ++ Seq("span_excise" -> "d5x",
      "decontaminate" -> "d5", "lm_gate" -> "d6", "mix" -> "d7"))

  /** The indexed-BM25 replay over `documents WHERE $pred` — one SQL
    * generator for `text_bm25_indexed` (pred TRUE) and
    * `text_bm25_asof` (the capture-time build slice), so the pinned
    * serve's oracle IS the live serve's oracle over the smaller
    * corpus and the two replays cannot drift. */
  private def bm25IndexedSql(pred: String,
      termPred: String = s"word IN ($Bm25TermsSql)"): String =
    s"""WITH bsrc AS (SELECT doc_id, text FROM documents WHERE $pred),
      |dl AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM bsrc),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_tok,
      |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
      |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |             FROM bsrc)
      |       WHERE $termPred GROUP BY 1, 2),
      |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT doc_id, dl,
      |         CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
      |         CAST(CAST(tf AS HUGEINT) * ${Bm25K1 + 1000L} * 1000 * t_tok * 1000
      |              // (CAST(tf AS HUGEINT) * 1000000 * t_tok
      |                  + CAST(${Bm25K1 * (1000L - Bm25B)} AS HUGEINT) * t_tok
      |                  + CAST(${Bm25K1 * Bm25B} AS HUGEINT) * dl * n_docs)
      |           AS BIGINT) AS sat
      |       FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot)
      |SELECT doc_id, max(dl) AS dl, count(*) AS n_terms,
      |       CAST(SUM(idf_q * sat) AS BIGINT) AS score_q
      |FROM sc GROUP BY 1
      |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin

  /** The mutation-history fixture shared by `text_bm25_asof` and
    * `text_bm25_diff`: build over doc_id % 7 <> 3, CAPTURE
    * (`bm25_asof:$d`), append the % 7 = 3 slice, tombstone the
    * % 13 = 5 docs inside the build slice, CAPTURE again
    * (`bm25_asof_end:$d`). One shared builder so the two rows'
    * replayed histories cannot drift. */
  private[graft] def bm25AsofIdx(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    cachedIndex("bm25_asof", d, p => {
      val all = docs(s, d)
      TextOps.bm25IndexWrite(all.where(col("doc_id") % 7 =!= 3), p)
      snapCache.put(s"bm25_asof:$d", EmbeddingOps.indexSnapshot(s, p))
      TextOps.bm25IndexAppend(all.where(col("doc_id") % 7 === 3), p)
      EmbeddingOps.indexDelete(s, p,
        all.where(col("doc_id") % 7 =!= 3 &&
          col("doc_id") % 13 === 5).select(col("doc_id")),
        keyCol = "doc_id")
      snapCache.put(s"bm25_asof_end:$d",
        EmbeddingOps.indexSnapshot(s, p))
    })

  val rows: Seq[Q] = Seq(

    // ---- dedup: cross-document LINE removal (CCNet §3.1 — the
    // boilerplate stage that strips shared chrome lines before any
    // document-level dedup): a line in >= minDf distinct docs leaves
    // ALL of them; survivors reassemble in original order. The
    // fixture wraps every doc's 10-token-run lines in boilerplate
    // head/tail lines shared corpus-wide, so exactly those must go --
    Q("text_dedup_lines",
      (s, d) => TextOps.dedupLines(lineFixture(docs(s, d))),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |fx AS (SELECT doc_id,
        |  '$LineFixtureHead' || chr(10)
        |  || array_to_string(list_transform(
        |       range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |       i -> array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ')),
        |       chr(10))
        |  || chr(10) || '$LineFixtureTail' AS text
        |  FROM w),
        |ln AS (SELECT doc_id,
        |         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS line_no,
        |         unnest(string_split(text, chr(10))) AS line
        |       FROM fx),
        |ldf AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM ln GROUP BY 1)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN df < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_lines_kept,
        |       COALESCE(string_agg(CASE WHEN df < 2 THEN line END, chr(10)
        |         ORDER BY line_no), '') AS text_deduped
        |FROM ln JOIN ldf USING (line)
        |GROUP BY doc_id""".stripMargin)),

    // ---- curation: URL canonicalization — the crawl front door
    // (RefinedWeb runs URL dedup BEFORE any text dedup): scheme/host
    // case, www, default ports, trailing slashes, tracking params,
    // fragments all collapse; params sort; domain = last two labels -
    Q("text_url_canonical",
      (s, d) => TextOps.canonicalizeUrl(urlFixture(docs(s, d)))
        .select(col("doc_id"), col("url"), col("canonical_url"),
          col("domain")),
      Some(s"""WITH $UrlCanonCte
        |SELECT doc_id, url, canonical_url, domain FROM canon""".stripMargin)),

    // ---- curation: canonical-URL dedup + per-domain cap — exact
    // page dedup on the canonical key (min doc_id survives), then at
    // most 10 docs per domain (the anti-over-representation cap) ----
    Q("text_domain_cap",
      (s, d) => TextOps.capPerDomain(TextOps.urlDedup(
          TextOps.canonicalizeUrl(urlFixture(docs(s, d)))), 10)
        .select(col("doc_id"), col("canonical_url"), col("domain")),
      Some(s"""WITH $UrlCanonCte,
        |ud AS (SELECT doc_id, canonical_url, domain FROM (
        |        SELECT doc_id, canonical_url, domain,
        |               ROW_NUMBER() OVER (PARTITION BY canonical_url
        |                 ORDER BY doc_id) AS rk
        |        FROM canon) WHERE rk = 1)
        |SELECT doc_id, canonical_url, domain FROM (
        |  SELECT doc_id, canonical_url, domain,
        |         ROW_NUMBER() OVER (PARTITION BY domain
        |           ORDER BY doc_id) AS rk2
        |  FROM ud) WHERE rk2 <= 10""".stripMargin)),

    // ---- text analysis: corpus-trained language ID ----------------------
    Q("text_langid",
      (s, d) => TextOps.langId(docs(s, d)),
      Some(s"""WITH $TokCte,
        |tokl AS (SELECT t.doc_id, t.word, dd.lang
        |         FROM tok t JOIN documents dd USING (doc_id)),
        |prof AS (SELECT lang AS cand_lang, word, count(*) AS n_lw
        |         FROM tokl GROUP BY 1, 2),
        |lsize AS (SELECT lang AS cand_lang, count(*) AS n_l
        |          FROM tokl GROUP BY 1),
        |dwc AS (SELECT doc_id, word, count(*) AS c_dw FROM tok GROUP BY 1, 2),
        |sc AS (SELECT doc_id, cand_lang, SUM(c_dw * n_lw) AS dot
        |       FROM dwc JOIN prof USING (word) GROUP BY 1, 2),
        |sc2 AS (SELECT s.doc_id, s.cand_lang, CAST(dot AS DOUBLE) / n_l AS score
        |        FROM sc s JOIN lsize USING (cand_lang)),
        |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
        |  FROM sc2) WHERE rn = 1)
        |SELECT p.doc_id, dd.lang, p.pred_lang, p.pred_lang = dd.lang AS correct
        |FROM pred p JOIN documents dd USING (doc_id)""".stripMargin),
      bench = true),

    // ---- text analysis: character-n-gram language ID --------------------
    Q("text_langid_ngram",
      (s, d) => TextOps.langIdNgram(docs(s, d)),
      Some("""WITH cs AS (
        |  SELECT doc_id, string_split(text, '') AS cs FROM documents
        |  WHERE len(string_split(text, '')) >= 3),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(cs) - 1),
        |           i -> cs[i] || cs[i+1] || cs[i+2])) AS g
        |  FROM cs),
        |labeled AS (SELECT gr.doc_id, gr.g, dd.lang
        |            FROM grams gr JOIN documents dd USING (doc_id)),
        |prof AS (SELECT lang AS cand_lang, g, count(*) AS n_lg
        |         FROM labeled GROUP BY 1, 2),
        |lsize AS (SELECT lang AS cand_lang, count(*) AS n_l
        |          FROM labeled GROUP BY 1),
        |dgc AS (SELECT doc_id, g, count(*) AS c_dg FROM grams GROUP BY 1, 2),
        |sc AS (SELECT doc_id, cand_lang, SUM(c_dg * n_lg) AS dot
        |       FROM dgc JOIN prof USING (g) GROUP BY 1, 2),
        |sc2 AS (SELECT s.doc_id, s.cand_lang, CAST(dot AS DOUBLE) / n_l AS score
        |        FROM sc s JOIN lsize USING (cand_lang)),
        |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
        |  FROM sc2) WHERE rn = 1)
        |SELECT p.doc_id, dd.lang, p.pred_lang, p.pred_lang = dd.lang AS correct
        |FROM pred p JOIN documents dd USING (doc_id)""".stripMargin)),

    // ---- text analysis: quality scoring ---------------------------------
    Q("text_quality",
      (s, d) => TextOps.quality(docs(s, d)),
      Some("""SELECT doc_id, lang, n_chars, n_tokens, n_distinct, n_stopwords,
        |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
        |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
        |  CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
        |  CASE WHEN n_tokens < 20 THEN 'too_short'
        |       WHEN n_stopwords * 4 > n_tokens THEN 'boilerplate'
        |       WHEN n_distinct * 5 < n_tokens THEN 'repetitive'
        |       ELSE 'ok' END AS quality_tier
        |FROM (SELECT doc_id, lang,
        |        CAST(length(text) AS BIGINT) AS n_chars,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
        |        CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a'))) AS BIGINT) AS n_stopwords
        |      FROM documents)""".stripMargin)),

    // ---- curation: composed keep/drop quality gate ----------------------
    Q("text_quality_filter",
      (s, d) => TextOps.qualityFilter(docs(s, d), QfMaxChars),
      Some(s"""SELECT doc_id, lang, quality_tier, n_pii, n_chars,
        |       reasons = '' AS keep, reasons
        |FROM (
        |  SELECT doc_id, lang, quality_tier, n_pii, n_chars,
        |         concat_ws(',',
        |           CASE WHEN quality_tier <> 'ok' THEN quality_tier END,
        |           CASE WHEN n_pii > 0 THEN 'pii' END,
        |           CASE WHEN n_chars > $QfMaxChars THEN 'too_long' END) AS reasons
        |  FROM (
        |    SELECT doc_id, lang, n_chars,
        |           CASE WHEN n_tokens < 20 THEN 'too_short'
        |                WHEN n_stopwords * 4 > n_tokens THEN 'boilerplate'
        |                WHEN n_distinct * 5 < n_tokens THEN 'repetitive'
        |                ELSE 'ok' END AS quality_tier,
        |           n_emails + n_digit_runs AS n_pii
        |    FROM (SELECT doc_id, lang,
        |            CAST(length(text) AS BIGINT) AS n_chars,
        |            CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |            CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
        |            CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a'))) AS BIGINT) AS n_stopwords,
        |            CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |            CAST(len(regexp_extract_all(text, '[0-9][0-9 -]{6,}[0-9]')) AS BIGINT) AS n_digit_runs
        |          FROM documents)))""".stripMargin)),

    // ---- curation: Gopher word-statistics rules (Rae et al. A1.1) -------
    // (bounds tuned so EVERY rule is non-vacuous on the synthetic
    // corpus: at sf0.01, 43 docs fail each word-count bound, 6 fail
    // the mean-word-length bound, 276 fail the stop-word rule)
    Q("text_gopher_rules",
      (s, d) => TextOps.gopherRules(docs(s, d)),
      Some("""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_wchars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stops
        |  FROM documents)
        |SELECT doc_id, n_words, n_wchars, n_stops,
        |  n_words >= 20 AS r_min_words,
        |  n_words <= 90 AS r_max_words,
        |  (n_wchars >= 4 * n_words AND n_wchars <= 10 * n_words) AS r_mean_wlen,
        |  n_stops >= 2 AS r_stops,
        |  (n_words >= 20 AND n_words <= 90
        |   AND n_wchars >= 4 * n_words AND n_wchars <= 10 * n_words
        |   AND n_stops >= 2) AS keep
        |FROM d""".stripMargin)),

    // ---- text analysis: most distinctive term (tf/df argmax) ------------
    Q("text_top_term",
      (s, d) => TextOps.topTerm(docs(s, d)),
      Some(s"""WITH $TokCte,
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, word, tf, df,
        |              CAST(tf AS DOUBLE) / df AS score
        |       FROM tf JOIN dfq USING (word))
        |SELECT doc_id, word AS top_term, tf, df, score FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
        |  FROM sc) WHERE rn = 1""".stripMargin)),

    // ---- text analysis: token counting ----------------------------------
    Q("text_tokens",
      (s, d) => TextOps.tokenCounts(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
        |  (CAST(length(text) AS BIGINT) + 3) // 4 AS bpe_est_tokens
        |FROM documents""".stripMargin)),

    // ---- curation: PII scan + redaction ---------------------------------
    Q("text_pii_scan",
      (s, d) => TextOps.piiScan(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9][0-9 -]{6,}[0-9]')) AS BIGINT) AS n_digit_runs,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9][0-9 -]{6,}[0-9]', '<NUMBER>', 'g')) AS redacted_hash
        |FROM documents""".stripMargin)),

    // ---- curation: deterministic hash-bucket train/val/test split -------
    Q("text_train_split",
      (s, d) => TextOps.trainValTestSplit(docs(s, d)),
      Some("""WITH b AS (
        |  SELECT doc_id,
        |         CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS BIGINT) % 10 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket <= 7 THEN 'train'
        |            WHEN bucket = 8 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b""".stripMargin)),

    // ---- curation: leakage-safe (dedup-group-keyed) split ---------------
    // (the assignment hash keys the near-dup group, so duplicate
    // clusters never straddle the train/eval fence; docs outside any
    // group key by their own id)
    Q("text_group_split",
      (s, d) => TextOps.groupSplit(docs(s, d)),
      Some(s"""WITH RECURSIVE $MinhashPairsCte,
        |$ClosureCte,
        |keyed AS (SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id
        |          FROM documents d LEFT JOIN grp g USING (doc_id)),
        |b AS (SELECT doc_id, group_id,
        |  ${saltBucketSql("'gsp:' || CAST(group_id AS VARCHAR)", 10)} AS bucket
        |  FROM keyed)
        |SELECT doc_id, group_id, bucket,
        |       ${splitCaseSql("bucket")} AS split
        |FROM b""".stripMargin)),

    // ---- curation: deterministic stratified downsampling ----------------
    // (cap the dominant language at 250 permille, keep the rest; the
    // rates literal below feeds BOTH the Spark call and the oracle's
    // VALUES so the two cannot drift)
    Q("text_sample_stratified",
      (s, d) => TextOps.sampleStratified(docs(s, d), StratRates),
      Some(s"""WITH rates(lang, keep_permille) AS (VALUES $StratRatesSql),
        |h AS (
        |  SELECT doc_id, lang,
        |         CAST(((strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT h.doc_id, h.lang, h.bucket,
        |       COALESCE(r.keep_permille, CAST(1000 AS BIGINT)) AS keep_permille
        |FROM h LEFT JOIN rates r USING (lang)
        |WHERE h.bucket < COALESCE(r.keep_permille, CAST(1000 AS BIGINT))""".stripMargin)),

    // ---- text analysis: top tf-idf term (quantized integer idf) ---------
    Q("text_tfidf_top",
      (s, d) => TextOps.tfidfTopTerm(docs(s, d)),
      Some(s"""WITH $TokCte,
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, word, tf, df,
        |              CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
        |              tf * CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS score
        |       FROM tf JOIN dfq USING (word), nd)
        |SELECT doc_id, word AS top_term, tf, df, idf_q, score FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
        |  FROM sc) WHERE rn = 1""".stripMargin)),

    // ---- curation: long-document chunking with overlap ------------------
    Q("text_chunk",
      (s, d) => TextOps.chunk(docs(s, d), ChunkMax, ChunkStride),
      Some(s"""WITH w AS (
        |  SELECT doc_id, string_split(text,' ') AS ls,
        |         CAST(len(string_split(text,' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, ls, n,
        |        1 + (CASE WHEN n > $ChunkMax
        |             THEN (n - $ChunkMax + $ChunkStride - 1) // $ChunkStride
        |             ELSE 0 END) AS n_chunks
        |      FROM w),
        |ch AS (SELECT doc_id, n, ls, unnest(range(n_chunks)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       chunk_id * $ChunkStride AS start_tok,
        |       LEAST(CAST($ChunkMax AS BIGINT), n - chunk_id * $ChunkStride)
        |         AS n_chunk_tokens,
        |       md5(array_to_string(
        |         ls[chunk_id*$ChunkStride + 1 :
        |            chunk_id*$ChunkStride + LEAST($ChunkMax, n - chunk_id*$ChunkStride)], ' '))
        |         AS chunk_hash
        |FROM ch""".stripMargin)),

    // ---- curation: greedy contiguous sequence packing -------------------
    // (the oracle replays the per-shard sequential recurrence with a
    // recursive CTE; budget/shard constants are shared via PackBudget /
    // PackShard so the two sides cannot drift)
    Q("text_seq_pack",
      (s, d) => TextOps.seqPack(docs(s, d), PackBudget, PackShard),
      Some(s"""WITH RECURSIVE $SeqPackCte
        |SELECT doc_id, lang, shard, n_tokens, pack_id, pack_fill
        |FROM rec""".stripMargin)),

    // ---- curation: packing-efficiency data card -------------------------
    // (what the chosen token budget costs: packs per language, exact
    // fill permille, oversized-doc count; shares SeqPackCte with
    // text_seq_pack so the pack assignment cannot drift)
    Q("text_pack_report",
      (s, d) => TextOps.packReport(docs(s, d), PackBudget, PackShard),
      Some(s"""WITH RECURSIVE $SeqPackCte,
        |ps AS (SELECT lang, shard, MAX(pack_id) + 1 AS n_packs,
        |              count(*) AS n_docs,
        |              CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |              CAST(SUM(CASE WHEN n_tokens > $PackBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize
        |       FROM rec GROUP BY 1, 2),
        |pl AS (SELECT lang,
        |              CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |              CAST(SUM(n_packs) AS BIGINT) AS n_packs,
        |              CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |              CAST(SUM(n_oversize) AS BIGINT) AS n_oversize
        |       FROM ps GROUP BY 1)
        |SELECT lang, n_docs, n_packs, total_tokens, n_oversize,
        |       n_packs * $PackBudget AS capacity,
        |       total_tokens * 1000 // (n_packs * $PackBudget) AS fill_permille
        |FROM pl""".stripMargin)),

    // ---- text analysis: exact rank-selection length quantiles -----------
    Q("text_length_quantiles",
      (s, d) => TextOps.lengthQuantiles(docs(s, d)),
      Some("""WITH r AS (
        |  SELECT lang, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY n_chars, doc_id) AS rn
        |  FROM documents),
        |c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT r.lang, c.n_docs,
        |  MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN n_chars END) AS p50_chars,
        |  MAX(CASE WHEN rn = (9 * n_docs + 9) // 10 THEN n_chars END) AS p90_chars,
        |  MAX(CASE WHEN rn = (99 * n_docs + 99) // 100 THEN n_chars END) AS p99_chars
        |FROM r JOIN c USING (lang) GROUP BY 1, 2""".stripMargin)),

    // ---- text analysis: sketch length quantiles — the production
    // default at scale; the driver-checked contract is the rank error
    // bound (the an_approx_distinct pattern), since the estimate itself
    // is engine-specific --------------------------------------------------
    Q("text_length_quantiles_approx",
      (s, d) => TextOps.lengthQuantilesApprox(docs(s, d)),
      Some("""SELECT lang, CAST(p.pct AS DOUBLE) AS pct,
        |       COUNT(*) AS n_docs, TRUE AS within_bound
        |FROM documents, (SELECT unnest([0.5, 0.9, 0.99]) AS pct) p
        |GROUP BY lang, p.pct""".stripMargin)),

    // ---- text analysis: vocabulary heavy hitters — frequent-items
    // sketch with the deterministic containment half as the contract
    // (every exact heavy hitter must be in the sketch set) ----------------
    Q("text_heavy_hitters",
      (s, d) => TextOps.heavyHitters(docs(s, d)),
      Some("""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |tot AS (SELECT COUNT(*) AS n_tokens FROM tok),
        |hh AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY 1
        |       HAVING COUNT(*) > 0.01 * (SELECT n_tokens FROM tot))
        |SELECT (SELECT n_tokens FROM tot) AS n_tokens,
        |       (SELECT COUNT(*) FROM hh) AS n_true_hh,
        |       TRUE AS all_found""".stripMargin)),

    // ---- curation: Gopher repetition signals ----------------------------
    // (token-level: the corpus has no line structure, so the per-line
    // members of the Gopher family would be vacuous here)
    Q("text_repetition",
      (s, d) => TextOps.repetition(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 3),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ls)),
        |         i -> ls[i] || ' ' || ls[i+1])) AS b FROM w),
        |tg AS (SELECT doc_id, unnest(list_transform(range(1, len(ls)-1),
        |         i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS t FROM w),
        |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |               CAST(max(c) AS BIGINT) AS top_bigram_c
        |        FROM bgc GROUP BY 1),
        |tgc AS (SELECT doc_id, t, count(*) AS c FROM tg GROUP BY 1, 2),
        |tga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |               CAST(count(*) AS BIGINT) AS n_distinct_trigrams
        |        FROM tgc GROUP BY 1)
        |SELECT b.doc_id, b.n_bigrams, b.top_bigram_c,
        |       CAST(b.top_bigram_c AS DOUBLE) / b.n_bigrams AS top_bigram_frac,
        |       t.n_trigrams, t.n_distinct_trigrams,
        |       CAST(t.n_trigrams - t.n_distinct_trigrams AS DOUBLE) / t.n_trigrams
        |         AS dup_trigram_frac
        |FROM bga b JOIN tga t USING (doc_id)""".stripMargin)),

    // ---- curation: bigram-LM cross-entropy (CCNet perplexity filter) ----
    // (self-trained corpus bigram model; -log2 P(rhs|lhs) quantized to
    // the integer bit length of c_lhs div c_ab — exact in both engines)
    Q("text_lm_score",
      (s, d) => TextOps.lmScore(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM bs GROUP BY 1, 2, 3),
        |lm AS (SELECT lhs, rhs, CAST(sum(k) AS BIGINT) AS c_ab
        |       FROM db GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1)
        |SELECT doc_id, CAST(sum(k * q) AS BIGINT) AS nll_sum,
        |       CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       CAST(sum(k * q) AS DOUBLE) / sum(k) AS avg_nll
        |FROM (SELECT doc_id, k,
        |        CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |      FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |GROUP BY 1""".stripMargin)),

    // ---- curation: cross-corpus LM scoring (serving half) ---------------
    // (model trained on the trusted slice only, raw docs scored under
    // it — the CCNet deployment shape; inner-join semantics: bigrams
    // the model never observed contribute nothing, n_bigrams counts
    // SCORED occurrences)
    Q("text_lm_cross",
      (s, d) => {
        val all = docs(s, d)
        TextOps.lmScoreWith(
          all.where(col("source") =!= DsirTarget),
          TextOps.lmModel(all.where(col("source") === DsirTarget)))
      },
      Some(s"""WITH wt AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents
        |       WHERE source = '$DsirTarget'
        |         AND len(string_split(text,' ')) >= 2),
        |bt AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM wt),
        |lm AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM (SELECT ls[i] AS lhs, ls[i+1] AS rhs FROM bt)
        |       GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |wr AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents
        |       WHERE source <> '$DsirTarget'
        |         AND len(string_split(text,' ')) >= 2),
        |br AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM wr),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM br GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(k * q) AS BIGINT) AS nll_sum,
        |       CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       CAST(sum(k * q) AS DOUBLE) / sum(k) AS avg_nll
        |FROM (SELECT doc_id, k,
        |        CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |      FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |GROUP BY 1""".stripMargin)),

    // ---- curation: cross-corpus LM scoring with STUPID BACKOFF ----------
    // (Brants et al. 2007: unseen bigrams pay alpha * unigram cost,
    // alpha = 0.4 rendered exactly as 5/2 — EVERY >= 2-token doc of
    // the raw slice scores, with its backed-off mass reported, where
    // text_lm_cross's inner join silently drops unseen transitions)
    Q("text_lm_backoff",
      (s, d) => {
        val all = docs(s, d)
        TextOps.lmScoreBackoff(
          all.where(col("source") =!= DsirTarget),
          TextOps.lmModel(all.where(col("source") === DsirTarget)))
      },
      Some(s"""WITH wt AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents
        |       WHERE source = '$DsirTarget'
        |         AND len(string_split(text,' ')) >= 2),
        |bt AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM wt),
        |lm AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM (SELECT ls[i] AS lhs, ls[i+1] AS rhs FROM bt)
        |       GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |uni AS (SELECT rhs, CAST(sum(c_ab) AS BIGINT) AS c_rhs
        |        FROM lm GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_total FROM lm),
        |wr AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents
        |       WHERE source <> '$DsirTarget'
        |         AND len(string_split(text,' ')) >= 2),
        |br AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM wr),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM br GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(k * q) AS BIGINT) AS nll_sum,
        |       CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       CAST(sum(bk) AS BIGINT) AS n_backoff,
        |       CAST(sum(k * q) AS DOUBLE) / sum(k) AS avg_nll
        |FROM (SELECT d.doc_id, d.k,
        |        CASE WHEN l.c_ab IS NOT NULL
        |             THEN CAST(length(bin(c.c_lhs // l.c_ab)) - 1 AS BIGINT)
        |             ELSE CAST(length(bin((t.n_total * 5) // ((COALESCE(u.c_rhs, 0) + 1) * 2))) - 1 AS BIGINT) END AS q,
        |        CASE WHEN l.c_ab IS NULL THEN d.k ELSE CAST(0 AS BIGINT) END AS bk
        |      FROM db d
        |      LEFT JOIN lm l ON l.lhs = d.lhs AND l.rhs = d.rhs
        |      LEFT JOIN ctx c ON c.lhs = d.lhs
        |      LEFT JOIN uni u ON u.rhs = d.rhs
        |      CROSS JOIN tot t)
        |GROUP BY 1""".stripMargin)),

    // ---- curation: CCNet perplexity buckets (head/middle/tail) ---------
    // every scored doc's EXACT global perplexity rank (distributed:
    // order-aligned score-floor shards + in-shard windows + tiny
    // offset frame — no single-partition corpus window) and the
    // explicit as-even-as-possible bucket floor((rank-1)*3/N)+1; the
    // oracle replays rank and formula over the same LM scores -------
    Q("text_ppl_buckets",
      (s, d) => TextOps.pplBuckets(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM bs GROUP BY 1, 2, 3),
        |lm AS (SELECT lhs, rhs, CAST(sum(k) AS BIGINT) AS c_ab
        |       FROM db GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |sc AS (SELECT doc_id,
        |         CAST(sum(k * q) AS DOUBLE) / sum(k) AS avg_nll
        |       FROM (SELECT doc_id, k,
        |               CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |             FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |       GROUP BY 1),
        |r AS (SELECT doc_id, avg_nll,
        |        ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS ppl_rank,
        |        COUNT(*) OVER () AS n
        |      FROM sc)
        |SELECT doc_id, avg_nll, CAST(ppl_rank AS BIGINT) AS ppl_rank,
        |       CAST((ppl_rank - 1) * 3 // n + 1 AS INTEGER) AS bucket
        |FROM r""".stripMargin)),

    // ---- curation: DSIR hashed-ngram importance weights -----------------
    // (target side = source 'src0', the trusted slice; raw docs scored
    // by quantized log p_t(f) - log p_r(f) over 1024 hashed buckets)
    Q("text_dsir_weight",
      (s, d) => TextOps.dsirWeight(docs(s, d), DsirTarget, DsirBuckets),
      Some(s"""WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ls
        |       FROM documents),
        |f AS (SELECT doc_id, source, unnest(list_concat(
        |        list_transform(ls, t -> 'u:' || t),
        |        list_transform(range(1, len(ls)),
        |          i -> 'b:' || ls[i] || ' ' || ls[i+1]))) AS f
        |      FROM w),
        |pd AS (SELECT doc_id, source,
        |         CAST(((strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(f), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(f), 4, 1)) - 1))
        |           % $DsirBuckets AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS k
        |       FROM f GROUP BY 1, 2, 3),
        |dist AS (SELECT bucket,
        |           CAST(length(bin(CAST(sum(CASE WHEN source = '$DsirTarget'
        |             THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_t,
        |           CAST(length(bin(CAST(sum(CASE WHEN source <> '$DsirTarget'
        |             THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_r
        |         FROM pd GROUP BY 1)
        |SELECT doc_id, CAST(sum(k * (qlog_t - qlog_r)) AS BIGINT) AS w_sum,
        |       CAST(sum(k) AS BIGINT) AS n_feats,
        |       CAST(sum(k * (qlog_t - qlog_r)) AS DOUBLE) / sum(k) AS avg_weight
        |FROM pd JOIN dist USING (bucket)
        |WHERE source <> '$DsirTarget'
        |GROUP BY 1""".stripMargin)),

    // ---- curation: cross-corpus DSIR scoring (serving half) -------------
    // (distribution trained on the {src0, src1} subset only, every
    // other source scored under it — the deployment shape where the
    // model predates the corpus. Unlike the LM's inner join, unseen
    // buckets score 0 via the LEFT-join coalesce arm: both sides
    // smooth to count 1, so the doc keeps its row and n_feats counts
    // ALL its occurrences, scored or not)
    Q("text_dsir_cross",
      (s, d) => {
        val all = docs(s, d)
        TextOps.dsirWeightWith(
          all.where(!col("source").isin(DsirTarget, DsirCrossRaw)),
          TextOps.dsirDist(
            all.where(col("source").isin(DsirTarget, DsirCrossRaw)),
            DsirTarget, DsirBuckets),
          DsirTarget, DsirBuckets)
      },
      Some(s"""WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ls
        |       FROM documents),
        |f AS (SELECT doc_id, source, unnest(list_concat(
        |        list_transform(ls, t -> 'u:' || t),
        |        list_transform(range(1, len(ls)),
        |          i -> 'b:' || ls[i] || ' ' || ls[i+1]))) AS f
        |      FROM w),
        |pd AS (SELECT doc_id, source,
        |         CAST(((strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(f), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(f), 4, 1)) - 1))
        |           % $DsirBuckets AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS k
        |       FROM f GROUP BY 1, 2, 3),
        |dist AS (SELECT bucket,
        |           CAST(length(bin(CAST(sum(CASE WHEN source = '$DsirTarget'
        |             THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_t,
        |           CAST(length(bin(CAST(sum(CASE WHEN source = '$DsirCrossRaw'
        |             THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_r
        |         FROM pd WHERE source IN ('$DsirTarget', '$DsirCrossRaw')
        |         GROUP BY 1)
        |SELECT doc_id,
        |       CAST(sum(k * (COALESCE(qlog_t, 0) - COALESCE(qlog_r, 0)))
        |         AS BIGINT) AS w_sum,
        |       CAST(sum(k) AS BIGINT) AS n_feats,
        |       CAST(sum(k * (COALESCE(qlog_t, 0) - COALESCE(qlog_r, 0)))
        |         AS DOUBLE) / sum(k) AS avg_weight
        |FROM pd LEFT JOIN dist USING (bucket)
        |WHERE source NOT IN ('$DsirTarget', '$DsirCrossRaw')
        |GROUP BY 1""".stripMargin)),

    // ---- curation: supervised NB quality classifier — the
    // DISCRIMINATIVE selector next to the generative ones (LM
    // perplexity, DSIR): train on a labeled positive slice vs a
    // labeled negative slice (the GPT-3 "Wikipedia-referenced vs
    // random crawl" recipe), argmax-classify every OTHER source.
    // Laplace smoothing + bit-length-quantized logs keep both class
    // scores exact BIGINTs; unseen words smooth to qlog2(1) = 0 —
    // the LEFT-join coalesce IS the smoothing, not a special case ---
    Q("text_nb_filter",
      (s, d) => TextOps.nbClassify(docs(s, d), DsirTarget,
        DsirCrossRaw),
      Some(s"""WITH $NbScoreSql
        |SELECT doc_id, n_tokens, score_p, score_n, pred, margin
        |FROM nbs""".stripMargin)),

    // ---- curation: classifier calibration card --------------------------
    // (margin-concentration histogram: how decisive the NB classifier
    // is, per predicted class, bucketed by the sign-split bit length
    // of the integer score difference — the data card read before
    // choosing a keep threshold; shares NbScoreSql with the filter
    // row so the scoring cannot drift)
    Q("text_nb_calibration",
      (s, d) => TextOps.nbCalibration(docs(s, d), DsirTarget,
        DsirCrossRaw),
      Some(s"""WITH $NbScoreSql
        |SELECT pred,
        |  CAST(CASE WHEN score_p - score_n = 0 THEN 0
        |       ELSE (CASE WHEN score_p > score_n THEN 1 ELSE -1 END)
        |            * (length(bin(abs(score_p - score_n))) - 1) END
        |    AS BIGINT) AS qband,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM nbs GROUP BY 1, 2""".stripMargin)),

    // ---- curation: WITHIN-doc repeated-span removal (Gopher cleanup) ----
    // (the excising twin of text_repetition's measured signals: a
    // 3-token run a document repeats internally keeps its FIRST
    // occurrence — min start position — and every later occurrence's
    // cover excises; same output contract as dedup_span_removal)
    Q("text_clean_repetition",
      (s, d) => TextOps.cleanRepetition(docs(s, d), minTokens = 3),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents),
        |ws AS (SELECT doc_id, ls, unnest(range(1, len(ls) - 1)) AS i
        |       FROM w WHERE len(ls) >= 3),
        |occ AS (SELECT doc_id, i AS pos,
        |          ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2] AS s
        |        FROM ws),
        |stats AS (SELECT doc_id, s, count(*) AS c, min(pos) AS min_pos
        |          FROM occ GROUP BY 1, 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT o.doc_id, unnest(range(o.pos, o.pos + 3)) AS pos
        |          FROM occ o JOIN stats USING (doc_id, s)
        |          WHERE c >= 2 AND o.pos <> min_pos)),
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

    // ---- curation: deterministic sharded corpus shuffle -----------------
    // (the pre-training randomization: global order = (shard,
    // pos_in_shard); no single global row_number at 100 TB)
    Q("text_global_shuffle",
      (s, d) => TextOps.globalShuffle(docs(s, d)),
      Some("""WITH h AS (SELECT doc_id,
        |         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS salt
        |       FROM documents),
        |s AS (SELECT doc_id, salt,
        |  CAST(((strpos('0123456789abcdef', substr(salt,1,1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(salt,2,1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(salt,3,1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(salt,4,1)) - 1)) % 64 AS BIGINT)
        |    AS shard
        |  FROM h)
        |SELECT doc_id, salt, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |         ORDER BY salt, doc_id) AS BIGINT) AS pos_in_shard
        |FROM s""".stripMargin)),

    // ---- curation: data-driven source-mixture rebalance -----------------
    // (rates DERIVED from measured token mass vs target shares; the
    // share literal places src0 above natural mass -> capped at 1000,
    // src1..15 below -> trimmed, src16..19 unlisted -> dropped)
    Q("text_mix_rebalance",
      (s, d) => TextOps.mixRebalance(docs(s, d), MixShares),
      Some(s"""WITH sh(source, share_permille) AS (VALUES $MixSharesSql),
        |t AS (SELECT doc_id, source,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |bs AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens
        |       FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM t),
        |r AS (SELECT bs.source,
        |        LEAST(CAST(1000 AS BIGINT),
        |          CAST((CAST(total_tokens AS HUGEINT) * share_permille // 1000)
        |            * 1000 // source_tokens AS BIGINT))
        |          AS keep_permille
        |      FROM bs JOIN sh USING (source), tt),
        |b AS (SELECT t.*, r.keep_permille,
        |        CAST(((strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |            + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS BIGINT) AS bucket
        |      FROM t JOIN r USING (source))
        |SELECT doc_id, source, n_tokens, bucket, keep_permille
        |FROM b WHERE bucket < keep_permille""".stripMargin)),

    // ---- corpus data card: the per-source release artifact --------------
    Q("text_corpus_report",
      (s, d) => TextOps.corpusReport(docs(s, d)),
      Some("""WITH t AS (SELECT source, lang,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |        CAST(length(text) AS BIGINT) AS n_chars
        |      FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
        |  CAST(sum(CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS short_permille
        |FROM t GROUP BY source""".stripMargin)),

    // ---- curation front door: HTML/boilerplate extraction ---------------
    // The markup fixture is DERIVED deterministically from documents
    // on BOTH sides (wrap each 10-token run in <p>..&amp; more</p>
    // between nav/script/style/list chrome), so the oracle replays
    // fixture generation AND the whole strip->break->decode->density
    // chain in DuckDB string functions.
    Q("text_extract_html",
      (s, d) => TextOps.extractHtml(htmlFixture(docs(s, d))),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  '$HtmlFixtureHead'
        |  || array_to_string(list_transform(
        |       range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |       i -> '<p>' || array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ')
        |            || ' &amp; more</p>'), '')
        |  || '$HtmlFixtureTail' AS html
        |  FROM w),
        |e1 AS (SELECT doc_id, regexp_replace(html,
        |         '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x FROM h),
        |e2 AS (SELECT doc_id, regexp_replace(x,
        |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM e1),
        |e3 AS (SELECT doc_id, regexp_replace(x,
        |         '(?i)<(br|/p|/div|/li|/ul|/nav|/title|/h[1-6]|/tr)[^>]*>',
        |         chr(10), 'g') AS x FROM e2),
        |e4 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x
        |       FROM e3),
        |e5 AS (SELECT doc_id, replace(replace(replace(replace(replace(x,
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |         '&nbsp;', ' '), '&amp;', '&') AS x FROM e4),
        |ln AS (SELECT doc_id,
        |  list_filter(list_transform(string_split(x, chr(10)),
        |    l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))),
        |    l -> l <> '') AS lines FROM e5),
        |kp AS (SELECT doc_id, lines,
        |  list_filter(lines, l -> len(string_split(l, ' ')) >= 4) AS kept
        |  FROM ln)
        |SELECT doc_id,
        |  array_to_string(kept, chr(10)) AS text_extracted,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS n_chars
        |FROM kp""".stripMargin)),

    // ---- THE unified curation pipeline: extract -> dedup -> langid ->
    // quality -> span excision -> LM gate -> temperature mix -> pack,
    // composed from the individually-oracle-checked operators with
    // every stage's survivors pinned once (corpus read once). The
    // oracle replays the ENTIRE chain; every selection stage is
    // non-vacuous at sf0.01 AND sf0.1 (measured: 500->499->176->172->
    // 172(2 docs excised)->112->66 and 5000->4966->1019->950->949(one
    // doc fully excised)->236->187). ---------------------------------------
    Q("text_curate_e2e",
      (s, d) => TextOps.curate(htmlFixture(docs(s, d)),
        spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
        maxChars = QfMaxChars, packBudget = PackBudget,
        packShard = PackShard),
      Some(CurateCtes + CuratePackTail),
      bench = true),

    // ---- curation WITH the forget-ledger front door ----------------------
    // (the composed guard driver-checked end to end: the doc_id % 9
    // slice is in the ledger, so the whole chain — extract through
    // packing, including the mix stage's budgets — runs over the
    // complement; the oracle replays the identical chain over a
    // filtered source CTE)
    Q("text_curate_forget",
      (s, d) => {
        val all = docs(s, d)
        val lg = cachedIndex("ledger", d, p => {
          graft.operators.Forget.ledgerInit(s, p)
          graft.operators.Forget.ledgerAppend(s, p,
            all.where(col("doc_id") % 9 === 0).select(col("doc_id")))
        })
        TextOps.curate(htmlFixture(all),
          spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
          maxChars = QfMaxChars, packBudget = PackBudget,
          packShard = PackShard, ledgerPath = Some(lg))
      },
      Some("WITH RECURSIVE\n" +
        "dsrc AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 9 <> 0),\n" +
        curateCteList("dsrc") + CuratePackTail)),

    // ---- curation behind a SemDeDup front gate ---------------------------
    // (the joint text+embedding pipeline: docs whose embedding is a
    // semantic near-dup of a lower-id doc — cos >= 0.45 within a
    // trained quantizer cell, the dedup_semantic contract — drop
    // BEFORE the 7-stage text funnel + packing. The oracle replays
    // the quantizer training, the within-cell pair scoring, the
    // keep-lowest drop rule, and the full chain over the filtered
    // source CTE — the text_curate_forget splice pattern with the
    // drop set computed instead of declared)
    Q("text_curate_semdedup",
      (s, d) => TextOps.curateSemantic(htmlFixture(docs(s, d)),
        emb(s, d), spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
        maxChars = QfMaxChars, packBudget = PackBudget,
        packShard = PackShard),
      Some("WITH RECURSIVE\n" + EmbCte + ",\n" +
        kmeansCellsCte(EmbeddingOps.KmIters) + ",\n" +
        """spp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          |        FROM cells a JOIN cells b ON a.cell = b.cell
          |                                 AND a.vec_id < b.vec_id),
          |sppx AS (SELECT spp.vec_a, spp.vec_b,
          |                unnest(ea.q) AS x, unnest(eb.q) AS y
          |         FROM spp JOIN e ea ON ea.vec_id = spp.vec_a
          |                  JOIN e eb ON eb.vec_id = spp.vec_b),
          |sdot2 AS (SELECT vec_a, vec_b, SUM(x*y) AS dot
          |          FROM sppx GROUP BY 1, 2),
          |sdrop AS (SELECT DISTINCT vec_b FROM sdot2
          |          JOIN n na ON na.vec_id = vec_a
          |          JOIN n nb ON nb.vec_id = vec_b
          |          WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45),
          |dsrc AS MATERIALIZED (SELECT * FROM documents
          |  WHERE doc_id NOT IN (SELECT vec_b FROM sdrop)),
          |""".stripMargin + curateCteList("dsrc") + CuratePackTail),
      bench = true),

    // ---- curation funnel report: per-stage doc count + token mass -------
    Q("text_curate_report",
      (s, d) => TextOps.curateReport(htmlFixture(docs(s, d)),
        spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
        maxChars = QfMaxChars),
      Some(CurateCtes + funnelStagesSql(BaseFunnel ++ Seq(
        "span_excise" -> "d5", "lm_gate" -> "d6", "mix" -> "d7")))),

    // ---- curation WITH the exact containment gate --------------------------
    // (dropContained wired into the pipeline front door: between span
    // excision and the LM gate, every doc 90%-contained in a
    // (size, id)-greater survivor drops — the quoted/boilerplate-
    // superset duplicates whose shared runs are shorter than spanK.
    // The row is the FUNNEL REPORT with the gate on, so the oracle
    // machine-checks the extra stage's survivor count (and hence the
    // dropped docs) plus every downstream stage over the gated
    // corpus: the LM model retrains and the mix budgets recompute on
    // the survivors, so a drift anywhere after the gate shows.
    // Non-vacuous at both driver scales: 1 drop at sf0.01, 5 at
    // sf0.1, measured on the d5 survivor frame.)
    Q("text_curate_containment",
      (s, d) => TextOps.curateReport(htmlFixture(docs(s, d)),
        spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
        maxChars = QfMaxChars, containT = Some(CurateContainT)),
      Some("WITH RECURSIVE\n" +
        curateCteList("documents", containT = Some(CurateContainT)) +
        funnelStagesSql(BaseFunnel ++ Seq("span_excise" -> "d5x",
          "containment" -> "d5", "lm_gate" -> "d6", "mix" -> "d7")))),

    // ---- curation WITH the benchmark-decontamination gate -----------------
    // (containmentJoin wired into the pipeline as stage 5c: every
    // span-excision survivor >= 90%-contained in a BENCHMARK document
    // drops before the LM gate, so the curated corpus cannot train on
    // held-out evaluation content — the cross-corpus sibling of the
    // containment gate. The benchmark here is the doc_id % 20 = 0
    // slice of the same corpus run through the SAME extraction (a
    // planted verbatim overlap, so the gate is non-vacuous by
    // construction: every surviving % 20 doc is ~fully contained in
    // its benchmark copy). The row is the funnel report, so the
    // oracle machine-checks the gate's survivor count AND every
    // downstream stage over the decontaminated corpus — the LM model
    // retrains and the mix budgets recompute on the survivors.)
    Q("text_curate_decontaminated",
      (s, d) => TextOps.curateReport(htmlFixture(docs(s, d)),
        spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
        maxChars = QfMaxChars, benchmark = Some(decontBmk(s, d))),
      Some(DecontFunnelSql)),

    // ---- the SAME gate served from a PERSISTED exact index ----------------
    // (the scale path: the benchmark corpus indexes ONCE —
    // minhashIndexWrite(exact = true) over the identical extracted
    // slice — and the funnel's decontamination stage screens the
    // survivors through containmentServeExact instead of recomputing
    // containmentJoin. The oracle is BYTE-IDENTICAL to the recompute
    // row's, so the gate rows machine-prove every round that the
    // persisted-index route is a drop-in for the in-flight one:
    // same drop set, same funnel, same downstream stages.)
    Q("text_curate_decont_served",
      (s, d) => {
        val ix = cachedIndex("bmk_exact", d, p =>
          TextOps.minhashIndexWrite(decontBmk(s, d), p, exact = true))
        TextOps.curateReport(htmlFixture(docs(s, d)),
          spanK = CurateSpanK, lmKeepMilli = CurateLmMilli,
          maxChars = QfMaxChars, benchmarkIndex = Some(ix))
      },
      Some(DecontFunnelSql)),

    // ---- temperature mixing: p_s ~ n_s^(1/2) (mT5/XLM-R, tau = 2) -------
    // The integer square root is candidate-corrected on BOTH sides:
    // the IEEE POWER seed can land either side of the true root and
    // the engines disagree on double->bigint rounding (Spark
    // truncates, DuckDB rounds), so each picks the largest t in
    // [g-2, g+2] with t*t <= n_s — bit-identical despite the seed.
    Q("text_mix_temperature",
      (s, d) => TextOps.mixTemperature(docs(s, d), q = 2),
      Some("""WITH t AS (SELECT doc_id, source,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |bs AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens
        |       FROM t GROUP BY 1),
        |rt AS (SELECT source, source_tokens,
        |         list_max(list_filter([g - 2, g - 1, g, g + 1, g + 2],
        |           x -> x >= 1 AND CAST(x AS HUGEINT) * x <= source_tokens)) AS t_s
        |       FROM (SELECT source, source_tokens,
        |               CAST(POWER(CAST(source_tokens AS DOUBLE), 0.5) AS BIGINT) AS g
        |             FROM bs)),
        |tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS tot_t FROM rt),
        |bb AS (SELECT MIN(CAST(CAST(source_tokens AS HUGEINT) * tot_t // t_s
        |         AS BIGINT)) AS budget FROM rt, tt),
        |r AS (SELECT source,
        |        LEAST(CAST(1000 AS BIGINT),
        |          CAST(CAST(budget AS HUGEINT) * t_s * 1000
        |            // (CAST(tot_t AS HUGEINT) * source_tokens) AS BIGINT))
        |          AS keep_permille
        |      FROM rt, tt, bb),
        |b AS (SELECT t.*, r.keep_permille,
        |        CAST(((strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |            + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS BIGINT) AS bucket
        |      FROM t JOIN r USING (source))
        |SELECT doc_id, source, n_tokens, bucket, keep_permille
        |FROM b WHERE bucket < keep_permille""".stripMargin)),

    // ---- tokenizer training: df-pruned vocabulary build -----------------
    // (max-df 39/50 = 78% sits inside this corpus' df cluster, so the
    // ceiling genuinely prunes ~half the vocabulary at the test SFs;
    // the min-df floor is exercised in TextOpsSpec — no hapax exists
    // in the synthetic corpus)
    Q("text_vocab",
      (s, d) => TextOps.vocabBuild(docs(s, d),
        minDf = 2, maxDfNum = 39, maxDfDen = 50),
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |dw AS (SELECT doc_id, word, count(*) AS c_dw FROM tok GROUP BY 1, 2),
        |ws AS (SELECT word, CAST(sum(c_dw) AS BIGINT) AS tf,
        |              CAST(count(*) AS BIGINT) AS df
        |       FROM dw GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |pruned AS (SELECT word, tf, df FROM ws, nd
        |           WHERE df >= 2 AND df * 50 <= n_docs * 39)
        |SELECT * FROM (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, word) AS BIGINT)
        |           AS "rank", word, tf, df
        |  FROM pruned) WHERE "rank" <= 1000""".stripMargin)),

    // ---- curation export: vocabulary id-encoding ------------------------
    // (the terminal export step: tokens map to their df-pruned vocab
    // rank, OOV -> 0; the per-doc id SEQUENCE is pinned by an md5 of
    // the comma-joined ids — order-sensitive, so a scrambled or
    // misaligned encode cannot hash-match)
    Q("text_vocab_encode",
      (s, d) => TextOps.vocabEncode(docs(s, d),
        minDf = 2, maxDfNum = 39, maxDfDen = 50),
      Some("""WITH tokp AS (
        |  SELECT doc_id, i AS pos, ls[i] AS word
        |  FROM (SELECT doc_id, string_split(text,' ') AS ls,
        |          unnest(range(1, len(string_split(text,' ')) + 1)) AS i
        |        FROM documents)),
        |dw AS (SELECT doc_id, word, count(*) AS c_dw FROM tokp GROUP BY 1, 2),
        |ws AS (SELECT word, CAST(sum(c_dw) AS BIGINT) AS tf,
        |              CAST(count(*) AS BIGINT) AS df
        |       FROM dw GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |pruned AS (SELECT word, tf, df FROM ws, nd
        |           WHERE df >= 2 AND df * 50 <= n_docs * 39),
        |ids AS (SELECT word, CAST(ROW_NUMBER() OVER
        |          (ORDER BY tf DESC, word) AS BIGINT) AS id
        |        FROM pruned QUALIFY id <= 1000)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN ids.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       md5(string_agg(CAST(COALESCE(ids.id, 0) AS VARCHAR), ','
        |         ORDER BY pos)) AS ids_hash
        |FROM tokp LEFT JOIN ids USING (word)
        |GROUP BY doc_id""".stripMargin)),

    // ---- text analysis: collocation detection by quantized PMI ----
    // (the word2vec phrase-merging signal; c_ab*N runs in
    // DECIMAL(38,0)/HUGEINT — ~1e26 at corpus scale; sub-1 ratios
    // collapse to pmi_q = -1) ---------------------------------------
    Q("text_phrase_pmi",
      (s, d) => TextOps.phrasePmi(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |lm AS (SELECT ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS c_ab
        |       FROM bs GROUP BY 1, 2),
        |uni AS (SELECT word, CAST(count(*) AS BIGINT) AS c_u FROM (
        |        SELECT unnest(string_split(text,' ')) AS word
        |        FROM documents) GROUP BY 1),
        |n AS (SELECT CAST(sum(c_u) AS BIGINT) AS n_tokens FROM uni),
        |sc AS (SELECT lhs, rhs, c_ab,
        |         CAST(CAST(c_ab AS HUGEINT) * n_tokens
        |           // (CAST(ua.c_u AS HUGEINT) * ub.c_u) AS BIGINT) AS ratio
        |       FROM lm JOIN uni ua ON ua.word = lm.lhs
        |               JOIN uni ub ON ub.word = lm.rhs, n
        |       WHERE c_ab >= 3),
        |q AS (SELECT lhs, rhs, c_ab,
        |        CAST(CASE WHEN ratio >= 1 THEN length(bin(ratio)) - 1
        |             ELSE -1 END AS BIGINT) AS pmi_q
        |      FROM sc)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi_q DESC, c_ab DESC,
        |         lhs, rhs) AS BIGINT) AS rank,
        |       lhs, rhs, c_ab, pmi_q
        |FROM q QUALIFY rank <= 50""".stripMargin)),

    // ---- tokenizer export: detokenization round trip — decode the
    // ID SEQUENCE alone back to words (OOV id 0 -> '<unk>'); both
    // vocabulary joins are <= topK rows by construction ---------------
    Q("text_vocab_decode",
      (s, d) => TextOps.vocabDecode(docs(s, d),
        minDf = 2, maxDfNum = 39, maxDfDen = 50),
      Some("""WITH tokp AS (
        |  SELECT doc_id, i AS pos, ls[i] AS word
        |  FROM (SELECT doc_id, string_split(text,' ') AS ls,
        |          unnest(range(1, len(string_split(text,' ')) + 1)) AS i
        |        FROM documents)),
        |dw AS (SELECT doc_id, word, count(*) AS c_dw FROM tokp GROUP BY 1, 2),
        |ws AS (SELECT word, CAST(sum(c_dw) AS BIGINT) AS tf,
        |              CAST(count(*) AS BIGINT) AS df
        |       FROM dw GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |pruned AS (SELECT word, tf, df FROM ws, nd
        |           WHERE df >= 2 AND df * 50 <= n_docs * 39),
        |ids AS (SELECT word, CAST(ROW_NUMBER() OVER
        |          (ORDER BY tf DESC, word) AS BIGINT) AS id
        |        FROM pruned QUALIFY id <= 1000),
        |enc AS (SELECT doc_id, pos, COALESCE(ids.id, 0) AS id
        |        FROM tokp LEFT JOIN ids USING (word)),
        |dec AS (SELECT e.doc_id, e.pos, e.id,
        |               COALESCE(i2.word, '<unk>') AS w
        |        FROM enc e LEFT JOIN ids i2 ON i2.id = e.id)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       string_agg(w, ' ' ORDER BY pos) AS text_decoded,
        |       (SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) = 0) AS lossless
        |FROM dec GROUP BY doc_id""".stripMargin)),

    // ---- tokenizer training: unigram-LM (SentencePiece-style) ----------
    // Deterministic Viterbi-EM in exact bit-length-quantized integer
    // arithmetic; the oracle replays the ENTIRE training loop — seed
    // substring counts, per-round min-cost DP segmentation (unrolled
    // over word positions), canonical smallest-l backtrace, usage
    // prune, re-cost — via generated MATERIALIZED CTEs (unigramCtes).
    Q("text_unigram_vocab",
      (s, d) => TextOps.unigramVocab(docs(s, d),
        vocabSize = UnigramV, rounds = UnigramRounds),
      Some(unigramCtes(UnigramRounds, finalSeg = false) + s"""
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS BIGINT) AS "rank",
        |       piece, c, cost AS cost_q FROM c$UnigramRounds"""
        .stripMargin)),
    Q("text_unigram_encode",
      (s, d) => TextOps.unigramEncode(docs(s, d),
        vocabSize = UnigramV, rounds = UnigramRounds),
      Some(unigramCtes(UnigramRounds, finalSeg = true) + s""",
        |bw AS (SELECT d.word, d.cost FROM da${UnigramRounds + 1} d JOIN wfs w
        |       ON w.word = d.word AND d.i = CAST(len(w.word) AS INT)),
        |np AS (SELECT word, CAST(count(*) AS BIGINT) AS np
        |       FROM pc${UnigramRounds + 1} GROUP BY 1),
        |pw AS (SELECT b.word, np.np, b.cost FROM bw b JOIN np USING (word)
        |       UNION ALL
        |       SELECT x.word, CAST(len(x.word) AS BIGINT) AS np,
        |              CAST(SUM(v.cost) AS BIGINT) AS cost FROM (
        |         SELECT word, unnest(string_split(word, '')) AS piece FROM wfl) x
        |       JOIN c$UnigramRounds v USING (piece) GROUP BY 1),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_pieces,
        |       CAST(SUM(cost) AS BIGINT) AS nll_sum,
        |       CAST(SUM(cost) AS DOUBLE) / SUM(np) AS avg_nll
        |FROM tok JOIN pw USING (word) GROUP BY 1""".stripMargin)),

    // ---- tokenizer training: BPE pair-count round -----------------------
    Q("text_bpe_pairs",
      (s, d) => TextOps.bpePairStats(docs(s, d)),
      Some("""WITH tok AS (
        |  SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |csl AS (SELECT string_split(word,'') AS cs FROM tok
        |        WHERE len(string_split(word,'')) >= 2),
        |p AS (SELECT unnest(list_transform(range(1, len(cs)),
        |        i -> cs[i] || cs[i+1])) AS pair FROM csl),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair) AS BIGINT)
        |           AS "rank", pair, n_pairs
        |  FROM c) WHERE "rank" <= 20""".stripMargin)),

    // ---- tokenizer training: ITERATED BPE merge loop --------------------
    // The closed trainer (count -> top pair -> merge everywhere ->
    // recount, N rounds). The oracle unrolls the same N rounds as
    // chained CTEs — each round's top-1 via the identical (count desc,
    // lhs, rhs) total order, each merge via the identical wrapped-
    // symbol replace — generated from one Scala loop so the round
    // structure cannot drift from the Spark trainer's.
    Q("text_bpe_merges",
      (s, d) => TextOps.bpeMerges(docs(s, d), rounds = BpeRounds),
      Some {
        val union = (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, " +
            s"lhs || rhs AS merged, n_pairs FROM t$r")
          .mkString("\nUNION ALL\n")
        bpeCtes(BpeRounds) + "\n" + union
      }),

    // ---- tokenizer training: CONVERGENCE-STOP variant -------------------
    // Same trainer under a frequency floor: training stops at the
    // first round whose winner falls below BpeMinCount (a real
    // trainer's min-frequency threshold). The oracle replays the full
    // round budget and keeps rounds at or above the floor — exactly
    // the stopped prefix, because round winners are monotone
    // non-increasing (merging the max pair only creates pairs bounded
    // by its count).
    Q("text_bpe_converged",
      (s, d) => TextOps.bpeMerges(docs(s, d), rounds = BpeRounds,
        minCount = BpeMinCount),
      Some {
        val union = (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, " +
            s"lhs || rhs AS merged, n_pairs FROM t$r")
          .mkString("\nUNION ALL\n")
        bpeCtes(BpeRounds) +
          s"\nSELECT * FROM (\n$union\n) WHERE n_pairs >= $BpeMinCount"
      }),

    // ---- tokenizer training: ENCODE with the trained merges -------------
    // The consumer side of the trainer: per-document token counts
    // after the learned merges are applied — what sequence packing
    // and training-cost budgeting consume. Same unrolled CTEs, final
    // per-word segmentations joined back to the corpus.
    Q("text_bpe_encode",
      (s, d) => TextOps.bpeEncode(docs(s, d), rounds = BpeRounds),
      Some(s"""${bpeCtes(BpeRounds)},
        |enc AS (SELECT word,
        |          CAST((len(string_split(seq, chr(31))) - 1) // 2 AS BIGINT) AS n_tok
        |        FROM seq$BpeRounds),
        |tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(SUM(CASE
        |    WHEN len(word) >= 2 AND strpos(word, chr(31)) = 0 THEN enc.n_tok
        |    WHEN len(word) = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bpe_tokens
        |FROM tokd LEFT JOIN enc USING (word)
        |GROUP BY doc_id""".stripMargin)),

    // ---- tokenizer: per-source fertility card ---------------------------
    // (tokens per 1000 words and chars per 1000 tokens under the
    // trained BPE — the measurement that prices a multilingual mix
    // before fixing sampling temperatures; shares the merge CTEs
    // with text_bpe_encode)
    Q("text_fertility",
      (s, d) => TextOps.tokenizerFertility(docs(s, d), BpeRounds),
      Some(s"""${bpeCtes(BpeRounds)},
        |enc AS (SELECT word,
        |          CAST((len(string_split(seq, chr(31))) - 1) // 2 AS BIGINT) AS n_tok
        |        FROM seq$BpeRounds),
        |tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |db AS (SELECT doc_id,
        |  CAST(COALESCE(SUM(CASE
        |    WHEN len(word) >= 2 AND strpos(word, chr(31)) = 0 THEN enc.n_tok
        |    WHEN len(word) = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bpe_tokens
        |       FROM tokd LEFT JOIN enc USING (word)
        |       GROUP BY doc_id),
        |dm AS (SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_wchars
        |       FROM documents)
        |SELECT dm.source,
        |       CAST(SUM(dm.n_words) AS BIGINT) AS total_words,
        |       CAST(SUM(dm.n_wchars) AS BIGINT) AS total_wchars,
        |       CAST(SUM(db.n_bpe_tokens) AS BIGINT) AS total_tokens,
        |       CAST(SUM(db.n_bpe_tokens) * 1000 // SUM(dm.n_words) AS BIGINT) AS fertility_permille,
        |       CAST(SUM(dm.n_wchars) * 1000 // SUM(db.n_bpe_tokens) AS BIGINT) AS chars_per_token_permille
        |FROM dm JOIN db USING (doc_id)
        |GROUP BY 1""".stripMargin)),

    // ---- text analysis: fingerprinting ----------------------------------
    Q("text_fingerprint",
      (s, d) => TextOps.fingerprint(docs(s, d)),
      Some(s"""WITH $TokCte,
        |ms AS (SELECT doc_id, min(md5(s)) AS min_shingle_hash FROM ds GROUP BY 1)
        |SELECT d.doc_id, md5(d.text) AS content_hash,
        |       md5(substr(d.text, 1, 64)) AS head_hash,
        |       md5(reverse(substr(reverse(d.text), 1, 64))) AS tail_hash,
        |       ms.min_shingle_hash
        |FROM documents d LEFT JOIN ms ON ms.doc_id = d.doc_id""".stripMargin)),

    // ---- text analysis: Rabin-Karp rolling-hash fingerprint -------------
    Q("text_rolling_hash",
      (s, d) => TextOps.rollingHash(docs(s, d)),
      Some("""SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 2147483647) AS rolling_hash,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin)),

    // ---- text analysis: winnowing fingerprint sets ----------------------
    Q("text_winnowing",
      (s, d) => TextOps.winnowing(docs(s, d)),
      Some(s"""WITH $WinnowCte
        |SELECT doc_id, unnest(fp) AS fingerprint FROM fp""".stripMargin)),

    // ---- retrieval: BM25 top-k for a literal query -----------------------
    // Constants spliced from Bm25Terms/Bm25K1/Bm25B so the two engines
    // cannot drift; all fraction-clearing products run HUGEINT in the
    // oracle (DECIMAL(38,0) in Spark).
    Q("text_bm25_topk",
      (s, d) => TextOps.bm25TopK(docs(s, d), Bm25Terms,
        k1Permille = Bm25K1, bPermille = Bm25B),
      Some(s"""WITH dl AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_tok,
        |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |             FROM documents)
        |       WHERE word IN ($Bm25TermsSql) GROUP BY 1, 2),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, dl,
        |         CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
        |         CAST(CAST(tf AS HUGEINT) * ${Bm25K1 + 1000L} * 1000 * t_tok * 1000
        |              // (CAST(tf AS HUGEINT) * 1000000 * t_tok
        |                  + CAST(${Bm25K1 * (1000L - Bm25B)} AS HUGEINT) * t_tok
        |                  + CAST(${Bm25K1 * Bm25B} AS HUGEINT) * dl * n_docs)
        |           AS BIGINT) AS sat
        |       FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot)
        |SELECT doc_id, max(dl) AS dl, count(*) AS n_terms,
        |       CAST(SUM(idf_q * sat) AS BIGINT) AS score_q
        |FROM sc GROUP BY 1
        |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- retrieval: BM25 served from the PERSISTED inverted index --------
    // Build-once via cachedIndex; serving reads only the query terms'
    // tb= buckets of committed segments. Pruning cannot change the
    // answer, so the oracle is text_bm25_topk's SQL verbatim.
    Q("text_bm25_indexed",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKIndexed(s, idx, Bm25Terms)
      },
      Some(bm25IndexedSql("TRUE")),
      bench = true),

    // ---- retrieval: BM25 served from a MERGED index ----------------------
    // (shard-parallel builds — three roots over doc_id % 3 slices,
    // shared bucket modulus — stitched by bm25IndexMerge: postings
    // segments and their per-segment totals rows renumber together,
    // so the merged collection statistics are the segment sums.
    // Merged serving must equal the one-root build over the union;
    // the oracle is text_bm25_indexed's replay verbatim)
    Q("text_bm25_merged",
      (s, d) => {
        val dir = cachedIndex("bm25_merged", d, p => {
          val all = docs(s, d)
          val shards = (0 until 3).map { i =>
            val sp = s"$p/shard$i"
            TextOps.bm25IndexWrite(
              all.where(col("doc_id") % 3 === i), sp)
            sp
          }
          TextOps.bm25IndexMerge(s, shards, s"$p/ix")
        })
        TextOps.bm25TopKIndexed(s, s"$dir/ix", Bm25Terms)
      },
      Some(bm25IndexedSql("TRUE"))),

    // ---- retrieval: prefix query off the term dictionary -----------------
    // (the Lucene MultiTermQuery rewrite: the prefix resolves against
    // the per-segment `_tdict` sorted-vocabulary sidecar — row-group
    // pruned, collect capped — and the resolved terms score as a
    // disjunction through the standard (seg, tb)-pruned serve, each
    // with its own df. The oracle swaps the literal IN-list for the
    // same LIKE predicate over the replayed token stream)
    Q("text_prefix_topk",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKPrefix(s, idx, "s")
      },
      Some(bm25IndexedSql("TRUE", termPred = "word LIKE 's%'")),
      // benched: the term-dict resolution + multi-term serve anchor
      bench = true),

    // ---- retrieval: wildcard query off the term dictionary ---------------
    // (a leading-wildcard LIKE cannot row-group-prune the sorted
    // dict, but the scan stays vocabulary-bounded — never a postings
    // scan; serving is identical past resolution)
    Q("text_wildcard_topk",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKLike(s, idx, "%or%")
      },
      Some(bm25IndexedSql("TRUE", termPred = "word LIKE '%or%'"))),

    // ---- retrieval: BATCHED prefix queries off the term dictionary -------
    // (one dict scan resolves every prefix in the batch — the pairs
    // stay distributed into the standard batch serve. 'zz' matches no
    // vocabulary and contributes zero rows; the oracle swaps the
    // per-doc qw for a VALUES-join of the same literal prefixes)
    Q("text_prefix_batch",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKPrefixBatch(s, idx,
          Seq((0L, "s"), (1L, "jo"), (2L, "zz")))
      },
      Some(s"""WITH ${bm25BatchCteWithQw(
        """SELECT q.query_id, v.word
          |        FROM (VALUES (CAST(0 AS BIGINT), 's%'),
          |                     (CAST(1 AS BIGINT), 'jo%'),
          |                     (CAST(2 AS BIGINT), 'zz%')) q(query_id, pat)
          |        JOIN (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
          |              FROM documents) v ON v.word LIKE q.pat""".stripMargin)}
        |SELECT query_id, rk, doc_id, dl, n_terms, score_q
        |FROM lex""".stripMargin)),

    // ---- retrieval: BM25 served after TAIL compaction --------------------
    // (size-tiered maintenance on the two-dir family: seed + four
    // appended segments, then bm25IndexCompactTail merges the four
    // smallest — postings, the merged totals row, and the merged
    // `_tdict` all recompute from the tail only. Serving must equal
    // the uncompacted chain, oracle verbatim)
    Q("text_bm25_tail",
      (s, d) => {
        val dir = cachedIndex("bm25_tail", d, p => {
          val all = docs(s, d)
          TextOps.bm25IndexWrite(
            all.where(col("doc_id") % 7 < 3), s"$p/ix")
          (3 until 7).foreach(i => TextOps.bm25IndexAppend(
            all.where(col("doc_id") % 7 === i), s"$p/ix"))
          TextOps.bm25IndexCompactTail(s, s"$p/ix", maxSegments = 2)
          ()
        })
        TextOps.bm25TopKIndexed(s, s"$dir/ix", Bm25Terms)
      },
      Some(bm25IndexedSql("TRUE"))),

    // ---- retrieval: fuzzy query off the term dictionary ------------------
    // (the FuzzyQuery analog: every index term within one Levenshtein
    // edit of the query spelling resolves off the dict — 'sow'
    // reaches both 'row' and 'slow' — and the resolved terms score as
    // a disjunction, each with its own df. DuckDB's levenshtein
    // replays the same distance on the token stream)
    Q("text_fuzzy_topk",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKFuzzy(s, idx, "sow", maxDist = 1)
      },
      Some(bm25IndexedSql("TRUE",
        termPred = "levenshtein(word, 'sow') <= 1"))),

    // ---- retrieval: BM25 served from a STREAM-INGESTED index -------------
    // (continuous ingestion driver-checked: seed build over the
    // % 3 = 0 slice, then a real bounded streaming query appends the
    // other two slices as micro-batch postings+totals segments
    // through Streams.bm25IngestSink — the exactly-once foreachBatch
    // door. Streamed serving must equal the one-root build over the
    // union, so the oracle is text_bm25_indexed's replay verbatim)
    Q("text_bm25_streamed",
      (s, d) => {
        val dir = cachedIndex("bm25_streamed", d, p => {
          val all = docs(s, d)
          TextOps.bm25IndexWrite(
            all.where(col("doc_id") % 3 === 0), s"$p/ix")
          streamInto(s,
            Seq(1, 2).map(i => all.where(col("doc_id") % 3 === i)),
            p,
            (src, ckpt) => graft.streaming.Streams
              .bm25IngestSink(src, s"$p/ix", ckpt))
        })
        TextOps.bm25TopKIndexed(s, s"$dir/ix", Bm25Terms)
      },
      Some(bm25IndexedSql("TRUE"))),

    // ---- retrieval: exact phrase match off the POSITIONAL index ----------
    // (positional postings opt in at build; serving intersects the
    // phrase terms' posting lists on doc_id and filters slot-0
    // positions by array adjacency — IO is the terms' buckets, work
    // is O(tf) per candidate, positions never explode into rows. The
    // oracle replays every token index whose successors spell the
    // phrase)
    Q("text_phrase_match",
      (s, d) => {
        val idx = cachedIndex("bm25_pos", d, p =>
          TextOps.bm25IndexWrite(docs(s, d), p, positional = true))
        TextOps.phraseOccurrencesIndexed(s, idx, PhraseBigram)
      },
      Some(s"""WITH ${phraseOccCtes(PhraseBigram)}
        |SELECT doc_id, n_occ, first_pos FROM occ""".stripMargin),
      // benched: the positional family's driver-visible anchor (the
      // proximity row shares the identical serve shape, so one
      // anchor covers the family)
      bench = true),

    // ---- retrieval: BATCHED phrase matching ------------------------------
    // (the batch-serving contract applied to the positional family:
    // three phrases of different lengths answer off ONE pruned scan
    // of their terms' bucket union; per query_id the rows equal the
    // single-phrase serve — the oracle replays each phrase and
    // unions)
    Q("text_phrase_batch",
      (s, d) => {
        val idx = cachedIndex("bm25_pos", d, p =>
          TextOps.bm25IndexWrite(docs(s, d), p, positional = true))
        TextOps.phraseOccurrencesIndexedBatch(s, idx,
          Seq(1L -> PhraseBigram, 2L -> PhraseTrigram,
            3L -> Seq("vector")))
      },
      Some(s"""WITH ${phraseOccCtes(PhraseBigram, "1")},
        |${phraseOccCtes(PhraseTrigram, "2")},
        |${phraseOccCtes(Seq("vector"), "3")}
        |SELECT CAST(1 AS BIGINT) AS query_id, doc_id, n_occ, first_pos
        |FROM occ1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_occ, first_pos FROM occ2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), doc_id, n_occ, first_pos FROM occ3""".stripMargin)),

    // ---- retrieval: phrase snippets (match + context window) -------------
    // (the user-facing tail: matched docs joined back to the corpus —
    // keyed on doc_id, no broadcast hint so a mega-match phrase
    // degrades to a shuffle join instead of OOMing the driver — with
    // a clamped array slice of ctx tokens around the first match)
    Q("text_phrase_snippets",
      (s, d) => {
        val idx = cachedIndex("bm25_pos", d, p =>
          TextOps.bm25IndexWrite(docs(s, d), p, positional = true))
        TextOps.phraseSnippetsIndexed(s, idx, docs(s, d),
          PhraseBigram, ctx = 4)
      },
      Some(s"""WITH ${phraseOccCtes(PhraseBigram)}
        |SELECT o.doc_id, o.n_occ, o.first_pos,
        |       array_to_string(list_slice(p.w,
        |         CAST(greatest(o.first_pos - 4, 0) + 1 AS BIGINT),
        |         CAST(o.first_pos + ${PhraseBigram.size + 4} AS BIGINT)),
        |         ' ') AS snippet
        |FROM occ o JOIN psel p USING (doc_id)""".stripMargin)),

    // ---- retrieval: proximity search off the positional index ------------
    // (the unordered companion of the phrase row: anchors are the
    // first term's positions, an anchor counts when every other term
    // occurs within `window` tokens of it — same bucket-pruned IO
    // and rarest-term intersection bound as the phrase serve)
    Q("text_near_match",
      (s, d) => {
        val idx = cachedIndex("bm25_pos", d, p =>
          TextOps.bm25IndexWrite(docs(s, d), p, positional = true))
        TextOps.termsNearIndexed(s, idx, NearTerms, NearWindow)
      },
      Some(s"""WITH ${nearOccCtes(NearTerms, NearWindow)}
        |SELECT doc_id, n_anchors, first_pos FROM nocc""".stripMargin)),

    // ---- retrieval: BM25-scored phrase ranking ---------------------------
    // (the phrase scores as ONE pseudo-term: tf = exact occurrence
    // count, df = matched-doc count, the same exact-integer idf/
    // saturation arithmetic as every BM25 row — phrase results rank
    // on the same scale as term results)
    Q("text_phrase_topk",
      (s, d) => {
        val idx = cachedIndex("bm25_pos", d, p =>
          TextOps.bm25IndexWrite(docs(s, d), p, positional = true))
        TextOps.bm25PhraseTopK(s, idx, PhraseTrigram)
      },
      Some(s"""WITH ${phraseOccCtes(PhraseTrigram)},
        |pdl AS (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |        FROM documents),
        |ptot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_tok,
        |                CAST(count(*) AS BIGINT) AS n_docs FROM pdl),
        |pdf AS (SELECT CAST(count(*) AS BIGINT) AS df FROM occ),
        |psc AS (SELECT o.doc_id, d.dl,
        |          CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
        |          CAST(CAST(o.n_occ AS HUGEINT) * ${Bm25K1 + 1000L} * 1000 * t_tok * 1000
        |               // (CAST(o.n_occ AS HUGEINT) * 1000000 * t_tok
        |                   + CAST(${Bm25K1 * (1000L - Bm25B)} AS HUGEINT) * t_tok
        |                   + CAST(${Bm25K1 * Bm25B} AS HUGEINT) * d.dl * n_docs)
        |            AS BIGINT) AS sat
        |        FROM occ o JOIN pdl d USING (doc_id), ptot, pdf)
        |SELECT doc_id, dl, CAST(1 AS BIGINT) AS n_terms,
        |       CAST(idf_q * sat AS BIGINT) AS score_q
        |FROM psc ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- retrieval: snapshot-pinned BM25 serving — the third index
    // family's as-of door driver-checked (next to sim_serve_asof and
    // dedup_serve_asof): build over doc_id % 7 <> 3, CAPTURE, append
    // the % 7 = 3 slice, tombstone the % 13 = 5 docs — the pinned
    // serve sees capture-time postings AND capture-time totals (the
    // collection stats pin with the same segment filter), so the
    // oracle is the indexed-BM25 replay over the build slice alone.
    // One SQL generator serves both rows, so the replays cannot drift
    Q("text_bm25_asof",
      // materialized inside withSnapshotRetry (the dedup_serve_asof
      // discipline): the race-absorption contract rides the gate
      (s, d) => EmbeddingOps.withSnapshotRetry(() =>
        TextOps.bm25TopKIndexed(s, bm25AsofIdx(s, d), Bm25Terms,
          asOf = Some(snapCache.get(s"bm25_asof:$d"))).localCheckpoint()),
      Some(bm25IndexedSql("doc_id % 7 <> 3"))),

    // ---- retrieval: snapshot diff over the BM25 index — the audit
    // twin of text_bm25_asof, completing the one-diff-row-per-index-
    // family set (sim_index_diff, dedup_index_diff): added = the
    // appended % 7 = 3 slice (every doc posts at least one word),
    // removed = the % 13 = 5 tombstones inside the build slice. The
    // postings store one row per (doc, word); the diff's key-distinct
    // keeps the audit one row per changed DOC
    Q("text_bm25_diff",
      (s, d) => {
        val idx = bm25AsofIdx(s, d)
        EmbeddingOps.indexDiff(s, idx, "postings",
          snapCache.get(s"bm25_asof:$d"),
          snapCache.get(s"bm25_asof_end:$d"), keyCol = "doc_id")
      },
      Some("""SELECT doc_id, 'added' AS change FROM documents
        |WHERE doc_id % 7 = 3
        |UNION ALL
        |SELECT doc_id, 'removed' AS change FROM documents
        |WHERE doc_id % 7 <> 3 AND doc_id % 13 = 5""".stripMargin)),

    // ---- retrieval: BATCHED multi-query BM25 serving ----------------
    // One pruned postings scan for the UNION of the 5 query docs'
    // term sets (distinct words among each doc's first 8 tokens),
    // per-(query, doc) scoring fanned out by a broadcast word join,
    // top-10 per query — for each query_id the rows equal the
    // single-query serve with that term set (spec-pinned parity).
    // The oracle replays the same arithmetic per query over the raw
    // corpus ([[SuiteMLShared.Bm25BatchCte]]).
    Q("text_bm25_batch",
      (s, d) => {
        val idx = cachedIndex("bm25", d,
          p => TextOps.bm25IndexWrite(docs(s, d), p))
        TextOps.bm25TopKIndexedBatch(s, idx,
          bm25BatchQueries(docs(s, d)))
      },
      Some(s"""WITH $Bm25BatchCte
        |SELECT query_id, rk, doc_id, dl, n_terms, score_q
        |FROM lex""".stripMargin),
      bench = true),

    // ---- retrieval: cross-corpus BM25 serving from prebuilt stats --------
    // Collection statistics (df, N, T) come from every source EXCEPT
    // src0; the src0 documents are the fresh batch being ranked — the
    // offline-build/online-serve split, replayed batch-side. Terms
    // unseen in the stats corpus drop via the inner df join.
    Q("text_bm25_cross",
      (s, d) => {
        val all = docs(s, d)
        TextOps.bm25TopKWith(
          all.where(col("source") === "src0"),
          TextOps.bm25Stats(all.where(col("source") =!= "src0")),
          Bm25Terms)
      },
      Some(s"""WITH corp AS (SELECT * FROM documents WHERE source <> 'src0'),
        |bat AS (SELECT * FROM documents WHERE source = 'src0'),
        |dl AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM bat),
        |tot AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t_tok,
        |               CAST(count(*) AS BIGINT) AS n_docs FROM corp),
        |dfq AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |              FROM corp)
        |        WHERE word IN ($Bm25TermsSql) GROUP BY 1),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |             FROM bat)
        |       WHERE word IN ($Bm25TermsSql) GROUP BY 1, 2),
        |sc AS (SELECT doc_id, dl,
        |         CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
        |         CAST(CAST(tf AS HUGEINT) * ${Bm25K1 + 1000L} * 1000 * t_tok * 1000
        |              // (CAST(tf AS HUGEINT) * 1000000 * t_tok
        |                  + CAST(${Bm25K1 * (1000L - Bm25B)} AS HUGEINT) * t_tok
        |                  + CAST(${Bm25K1 * Bm25B} AS HUGEINT) * dl * n_docs)
        |           AS BIGINT) AS sat
        |       FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot)
        |SELECT doc_id, max(dl) AS dl, count(*) AS n_terms,
        |       CAST(SUM(idf_q * sat) AS BIGINT) AS score_q
        |FROM sc GROUP BY 1
        |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- curation: fixed-n per-stratum deterministic carve ---------------
    Q("text_sample_topn",
      (s, d) => TextOps.sampleTopN(docs(s, d), n = 5),
      Some("""SELECT source, doc_id, lang, CAST(pick_rank AS INTEGER) AS pick_rank
        |FROM (SELECT source, doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR) || ':topn'), doc_id) AS pick_rank
        |      FROM documents)
        |WHERE pick_rank <= 5""".stripMargin)),

    // ---- curation: intra-doc worst-quality span localization -------------
    Q("text_worst_span",
      (s, d) => TextOps.worstSpan(docs(s, d)),
      Some("""WITH tokp AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |bg AS (SELECT doc_id, pos, word AS lhs,
        |         LEAD(word) OVER (PARTITION BY doc_id ORDER BY pos) AS rhs
        |       FROM tokp),
        |bgx AS (SELECT * FROM bg WHERE rhs IS NOT NULL),
        |lm AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM bgx GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |sc AS (SELECT doc_id, pos,
        |         CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |       FROM bgx JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs)),
        |sp AS (SELECT doc_id, pos,
        |         CAST(SUM(q) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS BIGINT)
        |           AS span_nll,
        |         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS span_len
        |       FROM sc)
        |SELECT doc_id, CAST(span_start AS INTEGER) AS span_start, span_nll
        |FROM (SELECT doc_id, pos AS span_start, span_nll,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY span_nll DESC, pos) AS rk
        |      FROM sp WHERE span_len = 10)
        |WHERE rk = 1""".stripMargin)),

    // ---- curation: contamination attribution per source ------------------
    Q("text_contamination_by_source",
      (s, d) => {
        val all = docs(s, d)
        TextOps.contaminationBySource(
          all.where(col("doc_id") % DecontMod =!= 0),
          all.where(col("doc_id") % DecontMod === 0))
      },
      Some(s"""WITH $TokCte,
        |bset AS (SELECT DISTINCT s FROM ds WHERE doc_id % $DecontMod = 0),
        |cs AS (SELECT doc_id, s FROM ds WHERE doc_id % $DecontMod <> 0),
        |sz AS (SELECT doc_id, count(*) AS n_shingles FROM cs GROUP BY 1),
        |sh AS (SELECT cs.doc_id, count(*) AS n_shared
        |       FROM cs JOIN bset USING (s) GROUP BY 1),
        |pd AS (SELECT z.doc_id, z.n_shingles,
        |         COALESCE(sh.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |         COALESCE(sh.n_shared, 0) * 10 >= z.n_shingles * 8 AS contaminated
        |       FROM sz z LEFT JOIN sh USING (doc_id))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_contaminated,
        |       CAST(SUM(n_shared) AS BIGINT) AS sum_shared,
        |       CAST(SUM(n_shingles) AS BIGINT) AS sum_shingles,
        |       CAST(SUM(n_shared) AS BIGINT) * 1000
        |         // CAST(SUM(n_shingles) AS BIGINT) AS shared_permille
        |FROM pd JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin)),

    // ---- analysis: LM branching-factor card ------------------------------
    Q("text_branching_card",
      (s, d) => TextOps.branchingCard(docs(s, d)),
      Some("""WITH wt AS (SELECT string_split(text, ' ') AS ls
        |       FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |b2 AS (SELECT ls[i] AS lhs, ls[i+1] AS rhs
        |       FROM (SELECT ls, unnest(range(1, len(ls))) AS i FROM wt)),
        |lm AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM b2 GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(SUM(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |rkd AS (SELECT lm.lhs, c_ab, rhs, c_lhs,
        |          SUM(c_ab) OVER (PARTITION BY lm.lhs
        |            ORDER BY c_ab DESC, rhs) AS cum,
        |          ROW_NUMBER() OVER (PARTITION BY lm.lhs
        |            ORDER BY c_ab DESC, rhs) AS rk
        |        FROM lm JOIN ctx ON ctx.lhs = lm.lhs),
        |nd AS (SELECT lhs, CAST(MIN(rk) AS INTEGER) AS n_needed
        |       FROM rkd WHERE cum * 1000 >= c_lhs * 900 GROUP BY 1)
        |SELECT n_needed, CAST(count(*) AS BIGINT) AS n_contexts
        |FROM nd GROUP BY 1""".stripMargin)),

    // ---- curation: trigram LM with laddered stupid backoff ---------------
    // Models train on every source EXCEPT src0; src0 scores under
    // them — unseen trigrams ladder down to the bigram rung, unseen
    // bigrams to add-one unigrams, and the per-rung mass is reported.
    Q("text_lm_trigram_cross",
      (s, d) => {
        val all = docs(s, d)
        val corp = all.where(col("source") =!= "src0")
        TextOps.lmScoreTrigramWith(all.where(col("source") === "src0"),
          TextOps.lmTrigramModel(corp), TextOps.lmModel(corp))
      },
      Some("""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ls
        |       FROM documents WHERE source <> 'src0'),
        |t3 AS (SELECT ls[i] AS w1, ls[i+1] AS w2, ls[i+2] AS w3
        |       FROM (SELECT ls, unnest(range(1, len(ls) - 1)) AS i
        |             FROM wt WHERE len(ls) >= 3)),
        |tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c_abc
        |        FROM t3 GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, CAST(SUM(c_abc) AS BIGINT) AS c_12
        |        FROM tri GROUP BY 1, 2),
        |b2 AS (SELECT ls[i] AS lhs, ls[i+1] AS rhs
        |       FROM (SELECT ls, unnest(range(1, len(ls))) AS i
        |             FROM wt WHERE len(ls) >= 2)),
        |bi AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM b2 GROUP BY 1, 2),
        |c2 AS (SELECT lhs, CAST(SUM(c_ab) AS BIGINT) AS c_2
        |       FROM bi GROUP BY 1),
        |u3 AS (SELECT rhs, CAST(SUM(c_ab) AS BIGINT) AS c_3
        |       FROM bi GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_total FROM bi),
        |wb AS (SELECT doc_id, string_split(text, ' ') AS ls
        |       FROM documents WHERE source = 'src0'),
        |bt AS (SELECT doc_id, ls[i] AS w1, ls[i+1] AS w2, ls[i+2] AS w3,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM (SELECT doc_id, ls, unnest(range(1, len(ls) - 1)) AS i
        |             FROM wb WHERE len(ls) >= 3)
        |       GROUP BY 1, 2, 3, 4),
        |sc AS (SELECT bt.doc_id, bt.k, tri.c_abc, bi.c_ab AS c_23,
        |         CAST(CASE
        |           WHEN tri.c_abc IS NOT NULL
        |             THEN length(bin(c12.c_12 // tri.c_abc)) - 1
        |           WHEN bi.c_ab IS NOT NULL
        |             THEN length(bin((c2.c_2 * 5) // (bi.c_ab * 2))) - 1
        |           ELSE length(bin((nt.n_total * 25)
        |             // ((coalesce(u3.c_3, 0) + 1) * 4))) - 1
        |         END AS BIGINT) AS nll_q
        |       FROM bt
        |       LEFT JOIN tri ON tri.w1 = bt.w1 AND tri.w2 = bt.w2
        |                    AND tri.w3 = bt.w3
        |       LEFT JOIN c12 ON c12.w1 = bt.w1 AND c12.w2 = bt.w2
        |       LEFT JOIN bi ON bi.lhs = bt.w2 AND bi.rhs = bt.w3
        |       LEFT JOIN c2 ON c2.lhs = bt.w2
        |       LEFT JOIN u3 ON u3.rhs = bt.w3, nt)
        |SELECT doc_id, CAST(SUM(k * nll_q) AS BIGINT) AS nll_sum,
        |       CAST(SUM(k) AS BIGINT) AS n_trigrams,
        |       CAST(SUM(CASE WHEN c_abc IS NULL AND c_23 IS NOT NULL
        |                THEN k ELSE 0 END) AS BIGINT) AS n_bo_bigram,
        |       CAST(SUM(CASE WHEN c_abc IS NULL AND c_23 IS NULL
        |                THEN k ELSE 0 END) AS BIGINT) AS n_bo_unigram,
        |       CAST(SUM(k * nll_q) AS DOUBLE) / SUM(k) AS avg_nll
        |FROM sc GROUP BY 1""".stripMargin)),

    // ---- curation: per-source percentile normalization -------------------
    // LM score calibrated WITHIN each source — the comparable-across-
    // feeds form a global quality cut actually wants.
    Q("text_score_percentile",
      (s, d) => {
        val d0 = docs(s, d)
        TextOps.scorePercentile(
          TextOps.lmScore(d0)
            .select(col("doc_id"), col("avg_nll").as("score"))
            .join(d0.select(col("doc_id"), col("source")), Seq("doc_id")))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM bs GROUP BY 1, 2, 3),
        |lm AS (SELECT lhs, rhs, CAST(sum(k) AS BIGINT) AS c_ab
        |       FROM db GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |lmsc AS (SELECT doc_id,
        |           CAST(sum(k * q) AS DOUBLE) / sum(k) AS score
        |         FROM (SELECT doc_id, k,
        |                 CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |               FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |         GROUP BY 1),
        |j AS (SELECT l.doc_id, d.source, l.score
        |      FROM lmsc l JOIN documents d ON d.doc_id = l.doc_id),
        |r AS (SELECT doc_id, source, score,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY score, doc_id) AS BIGINT) AS src_rank,
        |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |      FROM j)
        |SELECT doc_id, source, score, src_rank, n_src,
        |       (src_rank - 1) * 1000 // greatest(n_src - 1, 1) AS pct_permille
        |FROM r""".stripMargin)),

    // ---- curation: Borda rank fusion of LM + DSIR quality signals --------
    Q("text_rank_fusion",
      (s, d) => TextOps.rankFusion(docs(s, d), DsirTarget, DsirBuckets),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM bs GROUP BY 1, 2, 3),
        |lm AS (SELECT lhs, rhs, CAST(sum(k) AS BIGINT) AS c_ab
        |       FROM db GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |lmsc AS (SELECT doc_id,
        |           CAST(sum(k * q) AS DOUBLE) / sum(k) AS avg_nll
        |         FROM (SELECT doc_id, k,
        |                 CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |               FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |         GROUP BY 1),
        |wd AS (SELECT doc_id, source, string_split(text,' ') AS ls
        |       FROM documents),
        |fd AS (SELECT doc_id, source, unnest(list_concat(
        |         list_transform(ls, t -> 'u:' || t),
        |         list_transform(range(1, len(ls)),
        |           i -> 'b:' || ls[i] || ' ' || ls[i+1]))) AS f
        |       FROM wd),
        |pdd AS (SELECT doc_id, source,
        |          CAST(((strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 4096
        |              + (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 256
        |              + (strpos('0123456789abcdef', substr(md5(f), 3, 1)) - 1) * 16
        |              + (strpos('0123456789abcdef', substr(md5(f), 4, 1)) - 1))
        |            % $DsirBuckets AS BIGINT) AS bucket,
        |          CAST(count(*) AS BIGINT) AS k
        |        FROM fd GROUP BY 1, 2, 3),
        |distd AS (SELECT bucket,
        |            CAST(length(bin(CAST(sum(CASE WHEN source = '$DsirTarget'
        |              THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_t,
        |            CAST(length(bin(CAST(sum(CASE WHEN source <> '$DsirTarget'
        |              THEN k ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT) AS qlog_r
        |          FROM pdd GROUP BY 1),
        |dsirsc AS (SELECT doc_id,
        |             CAST(sum(k * (qlog_t - qlog_r)) AS DOUBLE) / sum(k)
        |               AS avg_weight
        |           FROM pdd JOIN distd USING (bucket)
        |           WHERE source <> '$DsirTarget'
        |           GROUP BY 1),
        |j AS (SELECT doc_id, avg_nll, avg_weight
        |      FROM lmsc JOIN dsirsc USING (doc_id)),
        |rk AS (SELECT *,
        |         CAST(ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id)
        |           AS BIGINT) AS ppl_rank,
        |         CAST(ROW_NUMBER() OVER (ORDER BY avg_weight DESC, doc_id)
        |           AS BIGINT) AS dsir_rank
        |       FROM j)
        |SELECT doc_id, avg_nll, avg_weight, ppl_rank, dsir_rank,
        |       ppl_rank + dsir_rank AS borda
        |FROM rk ORDER BY borda, doc_id LIMIT 100""".stripMargin)),

    // ---- curation: UL2 mixture-of-denoisers accounting -------------------
    Q("text_denoiser_mix",
      (s, d) => TextOps.denoiserMix(docs(s, d)),
      Some("""WITH asg AS (SELECT doc_id, text,
        |         ((strpos('0123456789abcdef',
        |             substr(md5(doc_id || ':denoiser'), 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef',
        |             substr(md5(doc_id || ':denoiser'), 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef',
        |             substr(md5(doc_id || ':denoiser'), 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef',
        |             substr(md5(doc_id || ':denoiser'), 4, 1)) - 1)) % 3
        |           AS arm_i
        |       FROM documents),
        |tk AS (SELECT doc_id, arm_i,
        |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |       FROM (SELECT doc_id, arm_i,
        |               unnest(string_split(text, ' ')) AS w0, text
        |             FROM asg)),
        |gr AS (SELECT DISTINCT doc_id, arm_i, pos // 3 AS g FROM tk
        |       WHERE arm_i IN (0, 2)
        |       UNION ALL
        |       SELECT DISTINCT doc_id, arm_i, pos // 8 AS g FROM tk
        |       WHERE arm_i = 1),
        |mk AS (SELECT doc_id, arm_i, g,
        |         (strpos('0123456789abcdef',
        |            substr(md5(doc_id || ':' || g || ':corrupt'), 1, 1)) - 1)
        |           < CASE WHEN arm_i = 2 THEN 8 ELSE 3 END AS masked
        |       FROM gr),
        |card AS (SELECT CASE arm_i WHEN 0 THEN 'r' WHEN 1 THEN 's'
        |                ELSE 'x' END AS arm,
        |           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |           CAST(count(*) AS BIGINT) AS n_windows,
        |           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |             AS n_masked
        |         FROM mk GROUP BY 1)
        |SELECT arm, n_docs, n_windows, n_masked,
        |       n_masked * 1000 // n_windows AS masked_permille
        |FROM card""".stripMargin)),

    // ---- curation: word2vec negative-sampling table ----------------------
    Q("text_neg_sampling",
      (s, d) => TextOps.negSamplingTable(docs(s, d)),
      Some("""WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT unnest(string_split(text, ' ')) AS word
        |             FROM documents) GROUP BY 1),
        |gr AS (SELECT word, c,
        |         CAST(POWER(CAST(c AS DOUBLE), 0.75) AS BIGINT) AS g
        |       FROM wc),
        |w4 AS (SELECT word, c,
        |         CAST(list_max(list_filter(
        |           [g - 2, g - 1, g, g + 1, g + 2],
        |           t -> t >= 1 AND CAST(t AS HUGEINT) * t * t * t
        |                <= CAST(c AS HUGEINT) * c * c)) AS BIGINT) AS w34
        |       FROM gr),
        |tot AS (SELECT CAST(SUM(w34) AS BIGINT) AS tot FROM w4)
        |SELECT word, c, w34,
        |       CAST(w34 * 1000000 // tot AS BIGINT) AS ppm
        |FROM w4, tot ORDER BY c DESC, word LIMIT 50""".stripMargin)),

    // ---- curation: inverse-cloze-task pair mining ------------------------
    Q("text_ict_pairs",
      (s, d) => TextOps.ictPairs(docs(s, d)),
      Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t
        |       FROM documents WHERE len(string_split(text, ' ')) >= 9),
        |st AS (SELECT doc_id, t,
        |         CAST(((strpos('0123456789abcdef',
        |                 substr(md5(doc_id || ':ict'), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef',
        |                 substr(md5(doc_id || ':ict'), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef',
        |                 substr(md5(doc_id || ':ict'), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef',
        |                 substr(md5(doc_id || ':ict'), 4, 1)) - 1))
        |           % (len(t) - 7) AS BIGINT) AS start
        |       FROM t0)
        |SELECT doc_id, CAST(start AS INTEGER) AS start_pos,
        |       array_to_string(list_slice(t, start + 1, start + 8), ' ')
        |         AS query_text,
        |       array_to_string(list_concat(list_slice(t, 1, start),
        |         list_slice(t, start + 9, len(t))), ' ') AS context_text
        |FROM st""".stripMargin)),

    // ---- curation: SFT pair assembly -------------------------------------
    Q("text_sft_pack",
      (s, d) => TextOps.sftPack(docs(s, d)),
      Some("""WITH p AS (SELECT doc_id // 2 AS pair_id, doc_id AS prompt_id,
        |              text AS prompt
        |       FROM documents WHERE doc_id % 2 = 0),
        |r AS (SELECT doc_id // 2 AS pair_id, doc_id AS response_id,
        |             text AS response
        |      FROM documents WHERE doc_id % 2 = 1),
        |j AS (SELECT pair_id, prompt_id, response_id,
        |        '<|user|> ' || prompt || ' <|assistant|> ' || response
        |          || ' <|end|>' AS seq
        |      FROM p JOIN r USING (pair_id))
        |SELECT pair_id, prompt_id, response_id, seq,
        |       CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tokens,
        |       len(string_split(seq, ' ')) <= 300 AS kept
        |FROM j""".stripMargin)),

    // ---- augmentation: T5-style span corruption --------------------------
    // Fixed-width windows of 3 tokens; window g of doc d masks iff the
    // first md5 nibble of d:g:corrupt is < 3; each masked window gets
    // its own <extra_id_k> sentinel, numbered left to right.
    Q("text_span_corrupt",
      (s, d) => TextOps.spanCorrupt(docs(s, d)),
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |win AS (SELECT doc_id, pos // 3 AS g,
        |          array_to_string(list_transform(
        |            list_sort(list(struct_pack(pos := pos, tok := word))),
        |            r -> r.tok), ' ') AS wtext
        |        FROM tok GROUP BY 1, 2),
        |mk AS (SELECT *,
        |         (strpos('0123456789abcdef',
        |            substr(md5(doc_id || ':' || g || ':corrupt'), 1, 1)) - 1) < 3
        |           AS masked
        |       FROM win),
        |rk AS (SELECT *,
        |         SUM(CASE WHEN masked THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY g) AS k
        |       FROM mk),
        |sn AS (SELECT *,
        |         '<extra_id_' || CAST(k - 1 AS BIGINT) || '>' AS sentinel
        |       FROM rk)
        |SELECT doc_id,
        |  array_to_string(list_transform(list_sort(list(struct_pack(
        |    g := g, t := CASE WHEN masked THEN sentinel ELSE wtext END))),
        |    r -> r.t), ' ') AS input_text,
        |  coalesce(array_to_string(list_transform(list_sort(list_filter(
        |    list(CASE WHEN masked
        |         THEN struct_pack(g := g, t := sentinel || ' ' || wtext) END),
        |    x -> x IS NOT NULL)), r -> r.t), ' '), '') AS target_text,
        |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |FROM sn GROUP BY 1""".stripMargin)),

    // ---- curation: length-bucketed padding-efficiency card ---------------
    Q("text_length_buckets",
      (s, d) => TextOps.lengthBuckets(docs(s, d)),
      Some("""WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |       FROM documents),
        |b AS (SELECT CASE WHEN n_tokens <= 1 THEN 1
        |               ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1))) END
        |               AS bucket,
        |             n_tokens FROM n),
        |agg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |        FROM b GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens,
        |       bucket * n_docs - sum_tokens AS padding_waste,
        |       (bucket * n_docs - sum_tokens) * 1000 // (bucket * n_docs)
        |         AS waste_permille
        |FROM agg""".stripMargin)),

    // ---- curation: token-budget greedy selection -------------------------
    // Order docs by LM quality (avg_nll asc, doc_id), keep while the
    // corpus-wide running token total stays within 20000 — the exact
    // global prefix sum runs shard-offset style, no single-partition
    // window.
    Q("text_budget_select",
      (s, d) => {
        val d0 = docs(s, d)
        TextOps.budgetSelect(
          TextOps.lmScore(d0)
            .select(col("doc_id"), col("avg_nll").as("score"))
            .join(d0.select(col("doc_id"),
              org.apache.spark.sql.functions.expr(
                "cast(size(split(text, ' ')) as long)").as("n_tokens")),
              Seq("doc_id")),
          budget = 20000L)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ls
        |       FROM documents WHERE len(string_split(text,' ')) >= 2),
        |bs AS (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM w),
        |db AS (SELECT doc_id, ls[i] AS lhs, ls[i+1] AS rhs,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM bs GROUP BY 1, 2, 3),
        |lm AS (SELECT lhs, rhs, CAST(sum(k) AS BIGINT) AS c_ab
        |       FROM db GROUP BY 1, 2),
        |ctx AS (SELECT lhs, CAST(sum(c_ab) AS BIGINT) AS c_lhs
        |        FROM lm GROUP BY 1),
        |scd AS (SELECT doc_id,
        |          CAST(sum(k * q) AS DOUBLE) / sum(k) AS score
        |        FROM (SELECT doc_id, k,
        |                CAST(length(bin(c_lhs // c_ab)) - 1 AS BIGINT) AS q
        |              FROM db JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs))
        |        GROUP BY 1),
        |nt AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |       FROM documents),
        |sel AS (SELECT doc_id, score, n_tokens,
        |          CAST(SUM(n_tokens) OVER (ORDER BY score, doc_id)
        |            AS BIGINT) AS cum_tokens
        |        FROM scd JOIN nt USING (doc_id))
        |SELECT doc_id, score, n_tokens, cum_tokens,
        |       cum_tokens <= 20000 AS kept
        |FROM sel""".stripMargin)),

    // ---- curation: text normalization over a noisy fixture ---------------
    // Noise derives deterministically from documents on BOTH sides
    // (case/punctuation keyed by doc_id + token length), so the
    // normalizer must lowercase, strip punctuation, and collapse
    // whitespace back to the EXACT original text — `restored` pins the
    // round trip per doc.
    Q("text_normalize",
      (s, d) => {
        val d0 = docs(s, d)
        val noisy = d0.select(col("doc_id"),
          org.apache.spark.sql.functions.expr(
            "concat_ws(' ', transform(split(text, ' '), w -> " +
              "CASE WHEN (doc_id + length(w)) % 3 = 0 THEN concat(upper(w), ',') " +
              "WHEN (doc_id + length(w)) % 5 = 0 THEN concat('\"', w, '!') " +
              "ELSE w END))").as("text"))
        TextOps.normalizeText(noisy)
          .join(d0.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(col("doc_id"), col("text_norm"), col("n_tokens_raw"),
            col("n_tokens_norm"),
            (col("text_norm") === col("text")).as("restored"))
      },
      Some("""WITH noisy AS (SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '), w ->
        |    CASE WHEN (doc_id + len(w)) % 3 = 0 THEN upper(w) || ','
        |         WHEN (doc_id + len(w)) % 5 = 0 THEN '"' || w || '!'
        |         ELSE w END), ' ') AS text FROM documents),
        |nn AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS text_norm
        |  FROM noisy)
        |SELECT nn.doc_id, text_norm, n_tokens_raw,
        |  CAST(len(string_split(text_norm, ' ')) AS BIGINT) AS n_tokens_norm,
        |  text_norm = d.text AS restored
        |FROM nn JOIN documents d ON d.doc_id = nn.doc_id""".stripMargin)),

    // ---- analysis: vocabulary-growth (Heaps-law) card --------------------
    // 500 slices = per-doc granularity on this corpus: the synthetic
    // vocabulary saturates within the first few documents, so coarse
    // deciles would collapse the curve to one point.
    Q("text_vocab_growth",
      (s, d) => TextOps.vocabGrowth(docs(s, d), nSlices = 500),
      Some("""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |fs AS (SELECT word,
        |         CAST(MIN(least(doc_id * 500 // n_docs, 499)) AS BIGINT) AS slice
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |             FROM documents), nd GROUP BY 1),
        |ns AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_new_words
        |       FROM fs GROUP BY 1)
        |SELECT slice, n_new_words,
        |       CAST(SUM(n_new_words) OVER (ORDER BY slice
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS vocab_size
        |FROM ns""".stripMargin)),

    // ---- curation: multi-phrase blocklist screening ----------------------
    Q("text_blocklist",
      (s, d) => TextOps.blocklistScreen(docs(s, d), BlockPhrases),
      Some(s"""WITH w2 AS (SELECT doc_id, string_split(text, ' ') AS w
        |       FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 1),
        |         i -> array_to_string(list_slice(w, i + 1, i + 2), ' '))) AS g
        |       FROM w2 WHERE len(w) >= 2),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
        |         i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS g
        |       FROM w2 WHERE len(w) >= 3),
        |h AS (SELECT doc_id, g FROM g2 WHERE g IN (${blockSql(2)})
        |      UNION ALL
        |      SELECT doc_id, g FROM g3 WHERE g IN (${blockSql(3)})),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |             CAST(count(DISTINCT g) AS BIGINT) AS n_phrases
        |      FROM h GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_hits, 0) AS n_hits,
        |       coalesce(a.n_phrases, 0) AS n_phrases,
        |       coalesce(a.n_hits, 0) > 0 AS blocked
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),

    // ---- analysis: distinctive-vocabulary card per source ----------------
    Q("text_distinctive_terms",
      (s, d) => TextOps.distinctiveTerms(docs(s, d)),
      Some("""WITH sw AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |       FROM documents),
        |cs AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c_s
        |       FROM sw GROUP BY 1, 2),
        |cw AS (SELECT word, CAST(SUM(c_s) AS BIGINT) AS c_w FROM cs GROUP BY 1),
        |ts AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS t_s FROM cs GROUP BY 1),
        |ta AS (SELECT CAST(SUM(c_s) AS BIGINT) AS t_all FROM cs),
        |sc AS (SELECT source, word, c_s, c_w - c_s AS c_r, t_s,
        |              t_all - t_s AS t_r
        |       FROM cs JOIN cw USING (word) JOIN ts USING (source), ta),
        |q AS (SELECT source, word, c_s, c_r,
        |        CAST(length(bin(CAST(CAST(c_s AS HUGEINT) * t_r
        |          // (CAST(c_r + 1 AS HUGEINT) * t_s) AS BIGINT))) - 1
        |          AS BIGINT) AS score_q
        |      FROM sc
        |      WHERE CAST(c_s AS HUGEINT) * t_r >= CAST(c_r + 1 AS HUGEINT) * t_s)
        |SELECT source, CAST(rk AS INTEGER) AS rk, word, c_s, c_r, score_q
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY score_q DESC, c_s DESC, word) AS rk FROM q)
        |WHERE rk <= 5""".stripMargin)),
  )
}
