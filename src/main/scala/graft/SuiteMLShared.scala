package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{EmbeddingOps, TextOps}

/** Shared fixtures, constants, and oracle CTE builders for the
  * per-family SuiteML registry files — one definition per construction
  * so the Spark queries and their DuckDB oracles cannot drift between
  * families. */
private[graft] object SuiteMLShared {

  private[graft] def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d).documents
  private[graft] def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d).embeddings

  /** Build-once cache for the persisted-index rows: sim_*_persisted
    * measure SERVING (the online half of the offline-build/online-serve
    * split), so the index is built once per (kind, dataset) into a
    * managed scratch dir — removed at JVM exit — instead of rebuilt
    * into a leaked temp dir on every invocation. */
  private[graft] val idxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run a REAL bounded ingest stream for the streamed-index gate
    * rows: each slice lands as one parquet file, a file source with
    * `maxFilesPerTrigger=1` replays them as separate micro-batches,
    * and `AvailableNow` drains them in one call. The sink is the
    * exactly-once index ingest door under test — the gate row's serve
    * then answers off segments a real streaming query appended. */
  private[graft] def streamInto(s: org.apache.spark.sql.SparkSession,
      slices: Seq[org.apache.spark.sql.DataFrame], scratch: String,
      sink: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): Unit = {
    val srcDir = s"$scratch/stream_src"
    slices.foreach(_.coalesce(1).write.mode("append").parquet(srcDir))
    val q = sink(
        s.readStream.schema(slices.head.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        s"$scratch/stream_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(180000L),
      "gate-row ingest stream did not finish in time")
  }

  /** Snapshot tokens captured mid-history by the as-of serving rows:
    * the build lambda records the token between mutations (build ->
    * capture -> append -> delete), keyed like [[idxCache]], so the
    * serve replays the pinned view on every invocation. */
  private[graft] val snapCache = new java.util.concurrent
    .ConcurrentHashMap[String, graft.operators.IndexSnapshot]()
  private[graft] def cachedIndex(kind: String, d: String,
      build: String => Unit): String =
    idxCache.computeIfAbsent(s"$kind:$d", _ => {
      val dir =
        java.nio.file.Files.createTempDirectory(s"graft_${kind}_idx")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(dir.toFile)
      }))
      build(dir.toString)
      dir.toString
    })

  /** Synthetic-markup fixture for the HTML-extraction row, derived
    * deterministically from `documents` on BOTH sides: each 10-token
    * run wraps in `<p>.. &amp; more</p>` between title/style/nav/
    * script/list chrome — so extraction must strip script BEFORE tags
    * (the `1 < 2` script body), decode entities, and density-filter
    * the short chrome lines. The head/tail constants are spliced into
    * the oracle SQL so the two fixtures cannot drift (single-quote-free
    * by construction). */
  private[graft] val HtmlFixtureHead =
    "<html><head><title>doc</title><style>body { margin: 0; }</style>" +
      "</head><body><nav>home about</nav><script>var a = 1 < 2;</script>"
  private[graft] val HtmlFixtureTail =
    "<ul><li>ad</li><li>buy now</li></ul><div>tiny</div></body></html>"

  private[graft] def htmlFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"), col("source"), col("lang"),
        org.apache.spark.sql.functions.split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("lang"),
        org.apache.spark.sql.functions.concat(
        lit(HtmlFixtureHead),
        org.apache.spark.sql.functions.expr(
          "concat_ws('', transform(" +
            "sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1), " +
            "i -> concat('<p>', concat_ws(' ', slice(w, i * 10 + 1, 10)), " +
            "' &amp; more</p>')))"),
        lit(HtmlFixtureTail)).as("html"))

  /** Unigram-LM trainer parameters, shared between the Spark queries
    * and the generated oracle so they cannot drift. */
  private[graft] val UnigramV = 32
  private[graft] val UnigramRounds = 2



  /** The unigram-LM Viterbi-EM trainer as generated DuckDB CTEs —
    * the [[bpeCtes]] discipline applied to the harder loop: seed
    * substring counts -> per-round (edge join, unrolled min-cost DP
    * over word positions, canonical smallest-l backtrace, usage
    * counts, prune + re-cost). Every CTE is MATERIALIZED: the DP
    * chain references each frame from up to `maxPieceLen` successors,
    * and DuckDB's default inlining would expand the chain
    * exponentially. Leaves c0..cR (piece, c, cost) and, with
    * `finalSeg`, the extra segmentation block for encoding. */
  private[graft] def unigramCtes(rounds: Int, finalSeg: Boolean): String = {
    val L = TextOps.UnigramMaxPieceLen
    val cap = TextOps.UnigramMaxWordLen
    val parts = Seq.newBuilder[String]
    parts += s"""wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY 1),
      |wfs AS MATERIALIZED (SELECT * FROM wf WHERE len(word) <= $cap),
      |wfl AS MATERIALIZED (SELECT * FROM wf WHERE len(word) > $cap),
      |sub AS MATERIALIZED (SELECT piece, CAST(SUM(n) AS BIGINT) AS c FROM (
      |  SELECT substr(word, i - l + 1, l) AS piece, n FROM (
      |    SELECT word, n, i, unnest(generate_series(1, least($L, i))) AS l
      |    FROM (SELECT word, n, unnest(generate_series(1, CAST(len(word) AS INT))) AS i
      |          FROM wf))) GROUP BY 1),
      |sg AS MATERIALIZED (SELECT piece FROM sub WHERE len(piece) = 1),
      |v0 AS MATERIALIZED (SELECT piece, c FROM sub WHERE len(piece) = 1
      |       UNION ALL
      |       SELECT piece, c FROM (SELECT piece, c FROM sub WHERE len(piece) >= 2
      |                             ORDER BY c DESC, piece LIMIT $UnigramV)),
      |t0 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v0),
      |c0 AS MATERIALIZED (SELECT piece, c,
      |  CAST(length(bin(tot // c)) - 1 AS BIGINT) AS cost FROM v0, t0)"""
      .stripMargin
    val nSeg = rounds + (if (finalSeg) 1 else 0)
    for (r <- 1 to nSeg) {
      parts += s"""e$r AS MATERIALIZED (
        |  SELECT t.word, t.i, t.l, v.cost FROM (
        |    SELECT word, i, unnest(generate_series(1, least($L, i))) AS l
        |    FROM (SELECT word, unnest(generate_series(1, CAST(len(word) AS INT))) AS i FROM wfs)) t
        |  JOIN c${r - 1} v ON v.piece = substr(t.word, t.i - t.l + 1, t.l)),
        |d${r}_0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS cost FROM wfs)"""
        .stripMargin
      for (i <- 1 to cap) {
        val prevs = (math.max(0, i - L) until i)
          .map(j => s"SELECT word, $j AS i, cost FROM d${r}_$j")
          .mkString(" UNION ALL ")
        parts += s"""d${r}_$i AS MATERIALIZED (
          |  SELECT e.word, MIN(p.cost + e.cost) AS cost
          |  FROM e$r e JOIN ($prevs) p ON p.word = e.word AND p.i = $i - e.l
          |  WHERE e.i = $i GROUP BY 1)""".stripMargin
      }
      val dall = (0 to cap)
        .map(i => s"SELECT word, $i AS i, cost FROM d${r}_$i")
        .mkString(" UNION ALL ")
      parts += s"da$r AS MATERIALIZED ($dall)"
      parts += s"""ch$r AS MATERIALIZED (
        |  SELECT e.word, e.i, MIN(e.l) AS l FROM e$r e
        |  JOIN da$r p ON p.word = e.word AND p.i = e.i - e.l
        |  JOIN da$r q ON q.word = e.word AND q.i = e.i
        |  WHERE p.cost + e.cost = q.cost GROUP BY 1, 2),
        |b${r}_0 AS MATERIALIZED (SELECT word, CAST(len(word) AS INT) AS pos FROM wfs)"""
        .stripMargin
      for (k <- 1 to cap) {
        parts += s"""b${r}_$k AS MATERIALIZED (
          |  SELECT b.word, substr(b.word, b.pos - c.l + 1, c.l) AS piece, b.pos - c.l AS pos
          |  FROM b${r}_${k - 1} b JOIN ch$r c ON c.word = b.word AND c.i = b.pos
          |  WHERE b.pos > 0)""".stripMargin
      }
      val pall = (1 to cap)
        .map(k => s"SELECT word, piece FROM b${r}_$k")
        .mkString(" UNION ALL ")
      parts += s"pc$r AS MATERIALIZED ($pall)"
      if (r <= rounds)
        parts += s"""u$r AS MATERIALIZED (
          |  SELECT piece, CAST(SUM(n) AS BIGINT) AS u FROM (
          |    SELECT word, piece FROM pc$r
          |    UNION ALL
          |    SELECT word, unnest(string_split(word, '')) AS piece FROM wfl) x
          |  JOIN wf USING (word) GROUP BY 1),
          |v$r AS MATERIALIZED (SELECT sg.piece, CAST(COALESCE(u.u, 0) + 1 AS BIGINT) AS c
          |         FROM sg LEFT JOIN u$r u USING (piece)
          |         UNION ALL
          |         SELECT piece, CAST(u + 1 AS BIGINT) AS c FROM (
          |           SELECT piece, u FROM u$r WHERE len(piece) >= 2 AND u >= 1
          |           ORDER BY u DESC, piece LIMIT $UnigramV)),
          |t$r AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v$r),
          |c$r AS MATERIALIZED (SELECT piece, c,
          |  CAST(length(bin(tot // c)) - 1 AS BIGINT) AS cost FROM v$r, t$r)"""
          .stripMargin
    }
    "WITH " + parts.result().mkString(",\n")
  }

  /** DuckDB rendering of [[graft.operators.TextOps]]' saltBucket
    * arithmetic (first 4 hex nibbles of md5(key) as an integer, mod
    * `mod`) over a caller-supplied key EXPRESSION — the group-keyed
    * split oracles hash a group id where the older inline copies hash
    * doc_id. */
  private[graft] def saltBucketSql(keyExpr: String, mod: Long): String =
    s"""CAST(((strpos('0123456789abcdef', substr(md5($keyExpr), 1, 1)) - 1) * 4096
       |    + (strpos('0123456789abcdef', substr(md5($keyExpr), 2, 1)) - 1) * 256
       |    + (strpos('0123456789abcdef', substr(md5($keyExpr), 3, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(md5($keyExpr), 4, 1)) - 1)) % $mod AS BIGINT)"""
      .stripMargin

  /** 8/1/1 bucket-to-name CASE shared by the split oracles. */
  private[graft] def splitCaseSql(bucketExpr: String): String =
    s"CASE WHEN $bucketExpr <= 7 THEN 'train' " +
      s"WHEN $bucketExpr = 8 THEN 'val' ELSE 'test' END"

  /** Merge rounds for the iterated BPE trainer — shared between the
    * Spark queries and their unrolled-CTE oracles so they cannot
    * drift. */
  private[graft] val BpeRounds = 5

  /** DSIR target slice + hashed-feature bucket count, shared between
    * the Spark query and its oracle so they cannot drift. 1024 divides
    * 65536, keeping the 16-bit md5-prefix bucket exactly uniform. */
  private[graft] val DsirTarget = "src0"
  private[graft] val DsirBuckets = TextOps.DsirDefaultBuckets

  /** The raw-side slice of the CROSS-corpus DSIR row's training
    * subset: the distribution is trained on {target, this} only, so
    * docs from every other source hit buckets the model never
    * observed and exercise dsirScored's LEFT-join coalesce-to-zero
    * arm (403 unseen-bucket hits at sf0.01, 27 at sf0.1 — measured,
    * nonzero at both driver scales). */
  private[graft] val DsirCrossRaw = "src1"

  /** Frequency floor for the convergence-stop BPE query: between the
    * sf0.01 corpus' round-3 (2747) and round-4 (2696) winners, so the
    * trainer provably STOPS mid-budget there. Shared with the oracle,
    * which replays all rounds and keeps those at or above the floor —
    * equivalent because round winners are monotone non-increasing
    * (the spec-pinned law in TextOpsSpec). */
  private[graft] val BpeMinCount = 2700L

  /** The BPE trainer as unrolled DuckDB CTEs (word-frequency table,
    * wrapped-symbol sequences, one (pairs, top-1, merge) round per
    * iteration), shared by the merge-table and encode oracles —
    * generated from one loop so the round structure cannot drift from
    * the Spark trainer's. Leaves seq0..seqN / t1..tN in scope. */
  private[graft] def bpeCtes(rounds: Int): String = {
    val head = """WITH wf AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE len(word) >= 2 AND strpos(word, chr(31)) = 0
      |  GROUP BY 1),
      |seq0 AS (
      |  SELECT word, array_to_string(list_transform(string_split(word, ''),
      |           c -> chr(31) || c || chr(31)), '') AS seq, n
      |  FROM wf)""".stripMargin
    val per = (1 to rounds).map { r =>
      s"""
      |p$r AS (
      |  SELECT cs[2*i] AS lhs, cs[2*i+2] AS rhs, CAST(sum(n) AS BIGINT) AS n_pairs
      |  FROM (SELECT cs, n, unnest(generate_series(1, (len(cs)-1)//2 - 1)) AS i
      |        FROM (SELECT string_split(seq, chr(31)) AS cs, n FROM seq${r - 1})
      |        WHERE len(cs) >= 5)
      |  GROUP BY 1, 2),
      |t$r AS (SELECT lhs, rhs, n_pairs FROM p$r ORDER BY n_pairs DESC, lhs, rhs LIMIT 1),
      |seq$r AS (
      |  -- LEFT JOIN + COALESCE, not a cross join: when a round has no
      |  -- pairs left (t empty) the segmentations pass through
      |  -- UNCHANGED, mirroring the Spark trainer's early stop (a
      |  -- cross join would empty the table and zero every later count)
      |  SELECT word,
      |         COALESCE(replace(seq, chr(31)||lhs||chr(31)||chr(31)||rhs||chr(31),
      |                  chr(31)||lhs||rhs||chr(31)), seq) AS seq, n
      |  FROM seq${r - 1} LEFT JOIN t$r ON TRUE)""".stripMargin
    }.mkString(",")
    head + "," + per
  }

  /** Shared oracle CTEs: tokens with position, and distinct 3-gram
    * shingle sets built per-row from the token list (mirrors the
    * windowless TextOps.shingles). */
  private[graft] val TokCte =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |  FROM documents),
      |ds AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(ls) - 1),
      |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ls
      |          FROM documents WHERE len(string_split(text, ' ')) >= 3)))""".stripMargin

  /** BM25 query constants — ONE literal feeding both the Spark call
    * and the oracle's IN-list / fraction-clearing products. */
  private[graft] val Bm25Terms: Seq[String] = Seq("join", "vector", "filter")
  private[graft] val Bm25TermsSql: String =
    Bm25Terms.map(t => s"'$t'").mkString(", ")
  private[graft] val Bm25K1: Long = 1200L
  private[graft] val Bm25B: Long = 750L

  /** Phrase-query constants — ONE literal each feeding the Spark
    * call and the oracle's positional replay. Both phrases are
    * non-vacuous at sf0.001 AND sf0.01 (measured: 47/27 docs for the
    * bigram, 9/3 for the trigram). */
  private[graft] val PhraseBigram: Seq[String] = Seq("order", "fast")
  private[graft] val PhraseTrigram: Seq[String] =
    Seq("big", "order", "scan")

  /** Proximity-query constants (engine and oracle share them):
    * docs where 'scan' occurs within 3 tokens of an 'order'
    * occurrence — 148 docs at sf0.01, 147 at sf0.001. */
  private[graft] val NearTerms: Seq[String] = Seq("order", "scan")
  private[graft] val NearWindow: Int = 3

  /** The proximity replay ending in `nocc(doc_id, n_anchors,
    * first_pos)`: 1-based anchor indices i with w[i] = the first
    * term and every other term present in the inclusive slice
    * [i - window, i + window]; the -1 aligns to the engine's 0-based
    * positions. */
  private[graft] def nearOccCtes(terms: Seq[String],
      window: Int): String = {
    val conds = terms.tail.map(t =>
      s"len(list_filter(w[greatest(1, i - $window):i + $window], " +
        s"x -> x = '$t')) > 0").mkString(" AND ")
    s"""nsel AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |nan AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM nsel),
      |nm AS (SELECT doc_id, i FROM nan
      |       WHERE w[i] = '${terms.head}' AND $conds),
      |nocc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_anchors,
      |                CAST(min(i) - 1 AS BIGINT) AS first_pos
      |         FROM nm GROUP BY 1)""".stripMargin
  }

  /** The positional phrase-match replay as a DuckDB CTE chain ending
    * in `occ(doc_id, n_occ, first_pos)` — every token index i whose
    * next |phrase|-1 tokens spell the phrase (1-based lists in
    * DuckDB; the engine's positions are 0-based, hence the -1). */
  private[graft] def phraseOccCtes(phrase: Seq[String],
      sfx: String = ""): String = {
    val k = phrase.size
    val conds = phrase.zipWithIndex
      .map { case (w, i) => s"w[i + $i] = '$w'" }.mkString(" AND ")
    s"""psel$sfx AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pst$sfx AS (SELECT doc_id, w,
      |          unnest(generate_series(1, len(w) - ${k - 1})) AS i
      |        FROM psel$sfx WHERE len(w) >= $k),
      |pm$sfx AS (SELECT doc_id, i FROM pst$sfx WHERE $conds),
      |occ$sfx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
      |               CAST(min(i) - 1 AS BIGINT) AS first_pos
      |        FROM pm$sfx GROUP BY 1)""".stripMargin
  }

  /** Batched-BM25 replay CTEs ending in `lex(query_id, rk, doc_id,
    * dl, n_terms, score_q)`: queries are the doc_id < 5 documents
    * (ALWAYS from the full table — a query's term set does not
    * depend on index membership), each query's term set = the
    * DISTINCT words among its first 8 tokens (a set, not a bag —
    * matching the serve's distinct), the CORPUS is
    * `documents WHERE $pred` (TRUE for the live rows; the pinned
    * rows pass the capture-time build slice), arithmetic identical
    * to SuiteMLText's single-query bm25IndexedSql. ONE generator
    * feeds `text_bm25_batch` and both hybrid rows' lexical arms so
    * the replays cannot drift. */
  private[graft] def bm25BatchCteOver(pred: String): String =
    bm25BatchCteWithQw(
      """SELECT DISTINCT doc_id AS query_id,
        |          unnest(string_split(text, ' ')[1:8]) AS word
        |        FROM documents WHERE doc_id < 5""".stripMargin, pred)

  /** [[bm25BatchCteOver]] with a caller-supplied `qw` body — the
    * batched-prefix row swaps the per-doc token queries for the
    * vocabulary words each literal prefix resolves to, and everything
    * downstream of qw (tf/df/idf/saturation/ranking) is shared
    * verbatim so the two replays cannot drift. */
  private[graft] def bm25BatchCteWithQw(qwSql: String,
      pred: String = "TRUE"): String =
    s"""qw AS ($qwSql),
      |bdl AS (SELECT doc_id,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |        FROM documents WHERE $pred),
      |btot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_tok,
      |                CAST(count(*) AS BIGINT) AS n_docs FROM bdl),
      |btf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |              FROM documents WHERE $pred)
      |        WHERE word IN (SELECT word FROM qw) GROUP BY 1, 2),
      |bdf AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
      |bsc AS (SELECT doc_id, word, dl,
      |          CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_q,
      |          CAST(CAST(tf AS HUGEINT) * ${Bm25K1 + 1000L} * 1000 * t_tok * 1000
      |               // (CAST(tf AS HUGEINT) * 1000000 * t_tok
      |                   + CAST(${Bm25K1 * (1000L - Bm25B)} AS HUGEINT) * t_tok
      |                   + CAST(${Bm25K1 * Bm25B} AS HUGEINT) * dl * n_docs)
      |            AS BIGINT) AS sat
      |        FROM btf JOIN bdf USING (word) JOIN bdl USING (doc_id), btot),
      |bqs AS (SELECT qw.query_id, bsc.doc_id, max(bsc.dl) AS dl,
      |               count(*) AS n_terms,
      |               CAST(SUM(bsc.idf_q * bsc.sat) AS BIGINT) AS score_q
      |        FROM bsc JOIN qw USING (word) GROUP BY 1, 2),
      |lex AS (SELECT query_id, CAST(rk AS INTEGER) AS rk, doc_id, dl,
      |               n_terms, score_q FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score_q DESC, doc_id) AS rk FROM bqs) WHERE rk <= 10)""".stripMargin

  private[graft] val Bm25BatchCte: String = bm25BatchCteOver("TRUE")

  /** The RRF fusion + ranking replay shared by `sim_hybrid_rrf` and
    * `sim_hybrid_asof` — expects CTEs `lex(query_id, rk, doc_id, …)`
    * and `dense(query_id, cand_id, rk)` in scope; ONE tail so the
    * live and pinned fusions cannot drift. */
  private[graft] val HybridFuseTail: String =
    """lx AS (SELECT query_id, doc_id AS cand_id, rk FROM lex),
      |f AS (SELECT COALESCE(l.query_id, a.query_id) AS query_id,
      |             COALESCE(l.cand_id, a.cand_id) AS cand_id,
      |             l.rk AS lex_rk, a.rk AS dense_rk,
      |             COALESCE(CAST(1 AS DOUBLE) / (60 + l.rk), CAST(0 AS DOUBLE))
      |               + COALESCE(CAST(1 AS DOUBLE) / (60 + a.rk), CAST(0 AS DOUBLE)) AS rrf
      |      FROM lx l FULL OUTER JOIN dense a
      |        ON a.query_id = l.query_id AND a.cand_id = l.cand_id)
      |SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
      |       lex_rk, dense_rk, rrf FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, cand_id) AS rk FROM f) WHERE rk <= 10""".stripMargin

  /** The batched queries' (query_id, word) frame on the Spark side —
    * the same first-8-tokens distinct set as `Bm25BatchCte`'s qw. */
  private[graft] def bm25BatchQueries(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.split(col("text"), " "),
            1, 8)).as("word"))
      .distinct()

  /** Blocklist phrases — ONE literal feeding both engines; mixed
    * lengths exercise the per-length gram streams. */
  private[graft] val BlockPhrases: Seq[String] =
    Seq("join hash", "slow scan", "row batch scan")
  private[graft] def blockSql(len: Int): String =
    BlockPhrases.filter(_.split(" ").length == len)
      .map(p => s"'$p'").mkString(", ")

  /** Template-spam fixture body for the capped near-dup row — ONE
    * single-quote-free literal feeding both engines; 10 tokens, so
    * with the per-class suffix token every class instance is an
    * 11-token doc sharing all 9 shingles with its classmates. */
  private[graft] val TemplateSpamText =
    "spam template page click here to win a free prize"

  /** Stratified-sampling keep rates (permille) — ONE literal feeding
    * both the Spark call and the oracle's VALUES clause. */
  private[graft] val StratRates: Seq[(String, Long)] = Seq(("en", 250L))
  private[graft] val StratRatesSql: String = StratRates
    .map { case (l, p) => s"('$l', CAST($p AS BIGINT))" }.mkString(", ")

  /** Mixture-rebalance target token shares (permille) — src0 gets a
    * share far above its natural mass (cap arm: keep_permille = 1000),
    * src1..15 sit below natural (trim arm), src16..19 are unlisted
    * (drop arm). ONE literal feeds Spark and the oracle VALUES. */
  private[graft] val MixShares: Seq[(String, Long)] =
    ("src0", 200L) +: (1 until 16).map(i => (s"src$i", 30L))
  private[graft] val MixSharesSql: String = MixShares
    .map { case (s, p) => s"('$s', CAST($p AS BIGINT))" }.mkString(", ")

  /** Sequence-packing constants shared by the Spark call and the
    * oracle's recursive CTE: token budget per pack, docs per shard. */
  private[graft] val PackBudget = 512L
  private[graft] val PackShard = 200L

  /** The NB classifier's scoring pipeline as CTEs ending in
    * `nbs(doc_id, n_tokens, score_p, score_n, pred, margin)` — shared
    * by text_nb_filter and text_nb_calibration so the scoring
    * arithmetic cannot drift between the filter and its calibration
    * card. */
  private[graft] def NbScoreSql: String =
    s"""tr AS (SELECT source, unnest(string_split(text, ' ')) AS word
      |      FROM documents WHERE source IN ('$DsirTarget', '$DsirCrossRaw')),
      |m AS (SELECT word,
      |        CAST(sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS c_p,
      |        CAST(sum(CASE WHEN source = '$DsirCrossRaw' THEN 1 ELSE 0 END) AS BIGINT) AS c_n
      |      FROM tr GROUP BY 1),
      |qm AS (SELECT word, CAST(length(bin(c_p + 1)) - 1 AS BIGINT) AS ql_p,
      |              CAST(length(bin(c_n + 1)) - 1 AS BIGINT) AS ql_n FROM m),
      |st AS (SELECT
      |        CAST(length(bin(CAST(sum(c_p) + count(*) AS BIGINT))) - 1 AS BIGINT) AS qd_p,
      |        CAST(length(bin(CAST(sum(c_n) + count(*) AS BIGINT))) - 1 AS BIGINT) AS qd_n
      |       FROM m),
      |pr AS (SELECT
      |        CAST((length(bin(CAST(sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) + 1 AS BIGINT))) - 1)
      |          - (length(bin(count(*) + 2)) - 1) AS BIGINT) AS qp_p,
      |        CAST((length(bin(CAST(sum(CASE WHEN source = '$DsirCrossRaw' THEN 1 ELSE 0 END) + 1 AS BIGINT))) - 1)
      |          - (length(bin(count(*) + 2)) - 1) AS BIGINT) AS qp_n
      |       FROM documents WHERE source IN ('$DsirTarget', '$DsirCrossRaw')),
      |dk AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k FROM (
      |        SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents WHERE source NOT IN ('$DsirTarget', '$DsirCrossRaw'))
      |       GROUP BY 1, 2),
      |ds AS (SELECT doc_id,
      |        CAST(sum(k * COALESCE(ql_p, 0)) AS BIGINT) AS s_p,
      |        CAST(sum(k * COALESCE(ql_n, 0)) AS BIGINT) AS s_n,
      |        CAST(sum(k) AS BIGINT) AS n_tokens
      |       FROM dk LEFT JOIN qm USING (word) GROUP BY 1),
      |nbs AS (SELECT doc_id, n_tokens,
      |        qp_p + s_p - n_tokens * qd_p AS score_p,
      |        qp_n + s_n - n_tokens * qd_n AS score_n,
      |        CASE WHEN qp_p + s_p - n_tokens * qd_p >= qp_n + s_n - n_tokens * qd_n
      |             THEN 'keep' ELSE 'drop' END AS pred,
      |        CAST((qp_p + s_p - n_tokens * qd_p) - (qp_n + s_n - n_tokens * qd_n)
      |          AS DOUBLE) / n_tokens AS margin
      |       FROM ds, st, pr)""".stripMargin

  /** The greedy per-shard packing recurrence as CTEs ending in
    * `rec(lang, shard, doc_id, n_tokens, rn, pack_id, pack_fill)` —
    * shared by text_seq_pack and text_pack_report so the assignment
    * cannot drift between the packing and its efficiency card. */
  private[graft] def SeqPackCte: String =
    s"""toks AS (
      |  SELECT doc_id, lang, doc_id // $PackShard AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |ord AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, shard
      |    ORDER BY doc_id) AS rn
      |  FROM toks),
      |rec AS (
      |  SELECT lang, shard, doc_id, n_tokens, rn,
      |         CAST(0 AS BIGINT) AS pack_id, n_tokens AS pack_fill
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.lang, o.shard, o.doc_id, o.n_tokens, o.rn,
      |         CASE WHEN r.pack_fill + o.n_tokens > $PackBudget
      |              THEN r.pack_id + 1 ELSE r.pack_id END,
      |         CASE WHEN r.pack_fill + o.n_tokens > $PackBudget
      |              THEN o.n_tokens ELSE r.pack_fill + o.n_tokens END
      |  FROM rec r JOIN ord o
      |    ON o.lang = r.lang AND o.shard = r.shard AND o.rn = r.rn + 1)"""
      .stripMargin

  /** Chunking constants (window/stride) — small enough that the
    * ~130-token test docs split into several overlapping chunks. */
  private[graft] val ChunkMax = 32
  private[graft] val ChunkStride = 16

  /** Quality-filter length cap and decontamination split modulus,
    * shared by the Spark calls and their oracles. */
  private[graft] val QfMaxChars = 100000L

  /** Curation-pipeline parameters (text_curate_e2e), shared between
    * the Spark chain and its oracle. The span window is wider than
    * dedup_span_removal's so the fixture's per-chunk "& more" seams
    * don't excise the whole corpus; the LM gate sits just above the
    * corpus median NLL (3930/4000 per mille at sf0.01/0.1), keeping
    * both filter arms non-vacuous at both driver scales. */
  private[graft] val CurateSpanK = 8
  private[graft] val CurateLmMilli = 3950L

  /** Containment-gate threshold for the gated curation row — the
    * canonical 0.9 the standalone dedup_containment rows use;
    * measured non-vacuous on the d5 survivor frame at both driver
    * scales (1 drop at sf0.01, 5 at sf0.1). */
  private[graft] val CurateContainT = 0.9

  /** The curation chain as shared DuckDB CTEs (fixture -> extract ->
    * dedup -> langid -> quality -> spans -> LM gate -> mix), ending at
    * the survivor frame d7 — spliced into the e2e row (which appends
    * the packing recurrence), the funnel-report row, and the
    * ledger-guarded row (which swaps the source for a filtered CTE)
    * so the three replays cannot drift. MATERIALIZED throughout: the
    * d-frames are multiply referenced and DuckDB default-inlines
    * CTEs. `src` is the corpus table/CTE the chain reads. With
    * `containT` set, the span-excision survivors land as `d5x` and
    * the containment gate's survivors take the `d5` name — every
    * downstream CTE (LM gate onward) reads the gated corpus verbatim,
    * exactly as the Spark chain threads `containT` through
    * [[graft.operators.TextOps.curateChain]]. */
  private[graft] def curateCteList(src: String,
      containT: Option[Double] = None,
      benchMod: Option[Long] = None,
      benchT: Double = 0.9): String = {
    // survivor-frame naming: every downstream CTE (LM gate onward)
    // reads `d5`, so the LAST enabled gate takes that name and the
    // earlier frames get intermediates — span excision lands as d5x
    // when any gate follows, the containment gate as d5y when the
    // decontamination gate follows it.
    val d5Name =
      if (containT.isDefined || benchMod.isDefined) "d5x" else "d5"
    val containOut = if (benchMod.isDefined) "d5y" else "d5"
    val decontIn = if (containT.isDefined) containOut else d5Name
    val containCtes = containT.fold("") { t =>
      s""",
      |cw AS (SELECT doc_id, string_split(text, ' ') AS ls FROM d5x),
      |cds AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(ls) - 1),
      |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
      |    FROM cw WHERE len(ls) >= 3)),
      |csz AS (SELECT doc_id, count(*) AS n FROM cds GROUP BY 1),
      |cint AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                count(*) AS n_common
      |         FROM cds a JOIN cds b ON a.s = b.s AND a.doc_id <> b.doc_id
      |         GROUP BY 1, 2),
      |cdrop AS (SELECT DISTINCT i.doc_a AS doc_id FROM cint i
      |          JOIN csz sa ON sa.doc_id = i.doc_a
      |          JOIN csz sb ON sb.doc_id = i.doc_b
      |          WHERE i.n_common / CAST(sa.n AS DOUBLE) >= $t
      |            AND (sb.n > sa.n OR (sb.n = sa.n AND i.doc_b < i.doc_a))),
      |$containOut AS MATERIALIZED (SELECT * FROM d5x
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cdrop))""".stripMargin
    }
    // the benchmark-decontamination gate: the benchmark corpus is the
    // doc_id % benchMod = 0 slice of the EXTRACTED docs (d1 text —
    // the same derivation the Spark suite row feeds to curateReport's
    // `benchmark`), and every survivor whose 3-token shingle set is
    // >= benchT-contained in a benchmark doc's drops — brute-force
    // cross containment, replaying [[graft.operators.TextOps
    // .containmentJoin]] over the gated frame.
    val decontCtes = benchMod.fold("") { m =>
      s""",
      |zb AS MATERIALIZED (SELECT doc_id, text FROM d1
      |  WHERE doc_id % $m = 0),
      |za AS (SELECT doc_id, string_split(text, ' ') AS ls FROM $decontIn),
      |zas AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(ls) - 1),
      |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
      |    FROM za WHERE len(ls) >= 3)),
      |zbw AS (SELECT doc_id, string_split(text, ' ') AS ls FROM zb),
      |zbs AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(ls) - 1),
      |             i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS s
      |    FROM zbw WHERE len(ls) >= 3)),
      |zsz AS (SELECT doc_id, count(*) AS n FROM zas GROUP BY 1),
      |zint AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                count(*) AS n_common
      |         FROM zas a JOIN zbs b ON a.s = b.s GROUP BY 1, 2),
      |zdrop AS (SELECT DISTINCT i.doc_a AS doc_id FROM zint i
      |          JOIN zsz sa ON sa.doc_id = i.doc_a
      |          WHERE i.n_common / CAST(sa.n AS DOUBLE) >= $benchT),
      |d5 AS MATERIALIZED (SELECT * FROM $decontIn
      |  WHERE doc_id NOT IN (SELECT doc_id FROM zdrop))""".stripMargin
    }
    s"""w0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
    |h AS (SELECT doc_id,
    |  '$HtmlFixtureHead'
    |  || array_to_string(list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
    |       i -> '<p>' || array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ')
    |        || ' &amp; more</p>'), '')
    |  || '$HtmlFixtureTail' AS html FROM w0),
    |e1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x FROM h),
    |e2 AS (SELECT doc_id, regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM e1),
    |e3 AS (SELECT doc_id, regexp_replace(x, '(?i)<(br|/p|/div|/li|/ul|/nav|/title|/h[1-6]|/tr)[^>]*>', chr(10), 'g') AS x FROM e2),
    |e4 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM e3),
    |e5 AS (SELECT doc_id, replace(replace(replace(replace(replace(x,
    |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&') AS x FROM e4),
    |lns AS (SELECT doc_id, list_filter(list_transform(string_split(x, chr(10)),
    |         l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))), l -> l <> '') AS lines FROM e5),
    |d1 AS MATERIALIZED (
    |  SELECT m.doc_id, m.source, m.lang,
    |         array_to_string(list_filter(lines, l -> len(string_split(l, ' ')) >= 4), ' ') AS text
    |  FROM lns JOIN $src m USING (doc_id)),
    |keep2 AS (SELECT MIN(doc_id) AS doc_id FROM d1 GROUP BY md5(text)),
    |d2 AS MATERIALIZED (SELECT d1.* FROM d1 JOIN keep2 USING (doc_id)),
    |tok1 AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM d2),
    |tokl AS (SELECT t.doc_id, t.word, d.lang FROM tok1 t JOIN d2 d USING (doc_id)),
    |prof AS (SELECT lang AS cand_lang, word, count(*) AS n_lw FROM tokl GROUP BY 1, 2),
    |lsize AS (SELECT lang AS cand_lang, count(*) AS n_l FROM tokl GROUP BY 1),
    |dwc AS (SELECT doc_id, word, count(*) AS c_dw FROM tok1 GROUP BY 1, 2),
    |sc AS (SELECT doc_id, cand_lang, SUM(c_dw * n_lw) AS dot FROM dwc JOIN prof USING (word) GROUP BY 1, 2),
    |sc2 AS (SELECT s.doc_id, s.cand_lang, CAST(dot AS DOUBLE) / n_l AS score FROM sc s JOIN lsize USING (cand_lang)),
    |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM (
    |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn FROM sc2) WHERE rn = 1),
    |d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN pred USING (doc_id) WHERE pred.pred_lang = d2.lang),
    |qst AS (SELECT doc_id,
    |          CAST(length(text) AS BIGINT) AS n_chars,
    |          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
    |          CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
    |          CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS n_stopwords,
    |          CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
    |          CAST(len(regexp_extract_all(text, '[0-9][0-9 -]{6,}[0-9]')) AS BIGINT) AS n_digit_runs
    |        FROM d3),
    |d4 AS MATERIALIZED (
    |  SELECT d3.* FROM d3 JOIN qst USING (doc_id)
    |  WHERE NOT (n_tokens < 20 OR n_stopwords * 4 > n_tokens OR n_distinct * 5 < n_tokens)
    |    AND n_emails + n_digit_runs = 0 AND n_chars <= $QfMaxChars),
    |w4 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM d4),
    |occ AS MATERIALIZED (
    |  SELECT doc_id, i AS pos,
    |         md5(array_to_string(list_slice(w, i + 1, i + $CurateSpanK), ' ')) AS sh
    |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - $CurateSpanK + 1)) AS i
    |        FROM w4 WHERE len(w) >= $CurateSpanK)),
    |stats AS (SELECT sh, count(DISTINCT doc_id) AS df, MIN(doc_id) AS min_doc FROM occ GROUP BY 1),
    |covered AS (SELECT DISTINCT o.doc_id, o.pos + u.k AS pos
    |            FROM occ o JOIN stats s USING (sh), (SELECT unnest(range(0, $CurateSpanK)) AS k) u
    |            WHERE s.df >= 2 AND o.doc_id <> s.min_doc),
    |toks4 AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
    |          FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w4)),
    |kept5 AS (SELECT t.doc_id, t.pos, t.tok FROM toks4 t
    |          LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
    |          WHERE c.doc_id IS NULL),
    |reb AS (SELECT doc_id, array_to_string(list_transform(
    |          list_sort(list(struct_pack(pos := pos, tok := tok))), r -> r.tok), ' ') AS text_clean
    |        FROM kept5 GROUP BY doc_id),
    |$d5Name AS MATERIALIZED (
    |  SELECT d4.doc_id, d4.source, d4.lang, r.text_clean AS text
    |  FROM d4 JOIN reb r USING (doc_id) WHERE r.text_clean <> '')$containCtes$decontCtes,
    |bg AS MATERIALIZED (
    |  SELECT doc_id, lhs, rhs, count(*) AS k FROM (
    |    SELECT doc_id, w[i] AS lhs, w[i+1] AS rhs
    |    FROM (SELECT doc_id, string_split(text,' ') AS w FROM d5),
    |         LATERAL (SELECT unnest(range(1, len(w))) AS i)
    |  ) GROUP BY 1, 2, 3),
    |lm AS (SELECT lhs, rhs, CAST(SUM(k) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
    |ctx AS (SELECT lhs, CAST(SUM(c_ab) AS BIGINT) AS c_lhs FROM lm GROUP BY 1),
    |lmsc AS (SELECT b.doc_id,
    |           CAST(SUM(b.k * (length(bin(c_lhs // c_ab)) - 1)) AS BIGINT) AS nll_sum,
    |           CAST(SUM(b.k) AS BIGINT) AS n_bigrams
    |         FROM bg b JOIN lm USING (lhs, rhs) JOIN ctx USING (lhs) GROUP BY 1),
    |d6 AS MATERIALIZED (
    |  SELECT d5.* FROM d5 JOIN lmsc USING (doc_id)
    |  WHERE nll_sum * 1000 <= n_bigrams * $CurateLmMilli),
    |t6 AS (SELECT doc_id, source, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM d6),
    |bs AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens FROM t6 GROUP BY 1),
    |rt AS (SELECT source, source_tokens,
    |         list_max(list_filter([g - 2, g - 1, g, g + 1, g + 2],
    |           x -> x >= 1 AND CAST(x AS HUGEINT) * x <= source_tokens)) AS t_s
    |       FROM (SELECT source, source_tokens,
    |               CAST(POWER(CAST(source_tokens AS DOUBLE), 0.5) AS BIGINT) AS g FROM bs)),
    |tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS tot_t FROM rt),
    |bb AS (SELECT MIN(CAST(CAST(source_tokens AS HUGEINT) * tot_t // t_s AS BIGINT)) AS budget FROM rt, tt),
    |rr AS (SELECT source, LEAST(CAST(1000 AS BIGINT),
    |         CAST(CAST(budget AS HUGEINT) * t_s * 1000
    |           // (CAST(tot_t AS HUGEINT) * source_tokens) AS BIGINT)) AS keep_permille
    |       FROM rt, tt, bb),
    |mk AS (SELECT t6.*, rr.keep_permille,
    |         CAST(((strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
    |             + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
    |             + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
    |             + (strpos('0123456789abcdef', substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS BIGINT) AS bucket
    |       FROM t6 JOIN rr USING (source)),
    |d7 AS MATERIALIZED (
    |  SELECT d6.doc_id, d6.lang, d6.text FROM d6 JOIN mk USING (doc_id)
    |  WHERE mk.bucket < mk.keep_permille)"""
      .stripMargin
  }

  /** The chain over the raw `documents` table — the instance the e2e
    * and funnel-report oracles splice. */
  private[graft] val CurateCtes: String =
    "WITH RECURSIVE\n" + curateCteList("documents")

  /** The greedy packing recurrence over the chain's survivor frame
    * `d7`, ending in the packed-row SELECT — ONE tail shared by the
    * e2e and ledger-guarded rows so the packing replay cannot drift. */
  private[graft] val CuratePackTail: String = s""",
    |ptoks AS (SELECT doc_id, lang, doc_id // $PackShard AS shard,
    |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM d7),
    |ord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY doc_id) AS rn FROM ptoks),
    |rec AS (
    |  SELECT lang, shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS pack_id, n_tokens AS pack_fill
    |  FROM ord WHERE rn = 1
    |  UNION ALL
    |  SELECT o.lang, o.shard, o.doc_id, o.n_tokens, o.rn,
    |         CASE WHEN r.pack_fill + o.n_tokens > $PackBudget THEN r.pack_id + 1 ELSE r.pack_id END,
    |         CASE WHEN r.pack_fill + o.n_tokens > $PackBudget THEN o.n_tokens ELSE r.pack_fill + o.n_tokens END
    |  FROM rec r JOIN ord o ON o.lang = r.lang AND o.shard = r.shard AND o.rn = r.rn + 1)
    |SELECT doc_id, lang, shard, n_tokens, pack_id, pack_fill
    |FROM rec""".stripMargin
  private[graft] val DecontMod = 20L

  /** Quantized-embedding oracle CTEs: q = round(x*1000) bigints,
    * nn = exact squared norm. */
  /** The quantized-corpus CTEs (`e`, `u`, `n`) over a caller-chosen
    * slice of `embeddings` — the as-of serving oracle replays a
    * pinned snapshot by slicing the corpus to the capture-time build
    * input; every downstream CTE (training included) derives from
    * `e`, so one predicate slices the whole replay. */
  private[graft] def embCteSliced(pred: String): String =
    s"""e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings WHERE $pred),
      |u AS (SELECT vec_id, unnest(q) AS v FROM e),
      |n AS (SELECT vec_id, SUM(v*v) AS nn FROM u GROUP BY 1)""".stripMargin

  private[graft] val EmbCte = embCteSliced("TRUE")

  private[graft] val MinhashSigSql: String = {
    val mins = (0 until 16)
      .map(k => s"min(md5(s||':$k')) AS m$k").mkString(", ")
    val bands = (0 until 4).map { b =>
      val parts = (b * 4 until b * 4 + 4).map(i => s"m$i").mkString("||'|'||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
    s"""sig AS (SELECT doc_id, $mins FROM ds GROUP BY doc_id),
       |bands AS ($bands)""".stripMargin
  }

  /** Full minhash near-dup pipeline as CTEs ending in `ndup(doc_a,
    * doc_b, n_common, na, nb, jaccard)` — shared by the pair query and
    * the connected-components grouping so the two oracles cannot
    * drift. */
  private[graft] val MinhashPairsCte: String =
    s"""$TokCte,
      |$MinhashSigSql,
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b USING (band_idx, band_hash)
      |         WHERE a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
      |          FROM cand c
      |          JOIN ds a ON a.doc_id = c.doc_a
      |          JOIN ds b ON b.doc_id = c.doc_b AND b.s = a.s
      |          GROUP BY 1, 2),
      |ndup AS (
      |  SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS na, sb.n AS nb,
      |         i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
      |  FROM inter i
      |  JOIN sz sa ON sa.doc_id = i.doc_a
      |  JOIN sz sb ON sb.doc_id = i.doc_b
      |  WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.7)""".stripMargin

  /** Connected-components closure over `ndup` pairs ending in
    * `grp(doc_id, group_id)` — shared by dedup_groups and
    * dedup_survivors so the two oracles cannot drift on what a
    * component (and hence a survivor) is. Requires WITH RECURSIVE. */
  /** Multi-line fixture for the line-dedup row, derived
    * deterministically from `documents` on BOTH sides: each doc's
    * 10-token runs become lines, wrapped by boilerplate head/tail
    * lines SHARED across every document — so cross-document line
    * dedup must strip exactly the chrome and keep the content
    * (single-quote-free constants, spliced into the oracle SQL). */
  private[graft] val LineFixtureHead = "subscribe to our newsletter today"
  private[graft] val LineFixtureTail = "all rights reserved worldwide"

  private[graft] def lineFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"),
        org.apache.spark.sql.functions.split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.concat_ws("\n",
          lit(LineFixtureHead),
          org.apache.spark.sql.functions.expr(
            "array_join(transform(" +
              "sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1), " +
              "i -> concat_ws(' ', slice(w, i * 10 + 1, 10))), chr(10))"),
          lit(LineFixtureTail)).as("text"))

  /** Messy-URL fixture for the canonicalization rows, derived
    * deterministically from `documents` on BOTH sides: scheme case,
    * optional WWW, mixed host case, the https default port, a
    * doc_id-mod path (so canonical collisions genuinely occur inside
    * a source), optional trailing slash, tracking params around a
    * real one, and a fragment — every canonicalization rule is
    * exercised by construction. */
  private[graft] val UrlFixtureSql: String =
    """uf AS (SELECT doc_id,
      |  'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |  'Blog.' || source || '-site.COM' ||
      |  CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
      |  '/articles/' || CAST(doc_id % 13 AS VARCHAR) ||
      |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |  '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) ||
      |  '&ref=tw' ||
      |  CASE WHEN doc_id % 5 = 0 THEN '&lang=en' ELSE '' END ||
      |  '#frag' || CAST(doc_id AS VARCHAR) AS url
      | FROM documents)""".stripMargin

  private[graft] def urlFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"),
      org.apache.spark.sql.functions.concat(
        lit("HTTPS://"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.pmod(col("doc_id"), lit(3)) === 0,
          lit("WWW.")).otherwise(lit("")),
        lit("Blog."), col("source"), lit("-site.COM"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.pmod(col("doc_id"), lit(2)) === 0,
          lit(":443")).otherwise(lit("")),
        lit("/articles/"),
        org.apache.spark.sql.functions.pmod(col("doc_id"), lit(13))
          .cast("string"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.pmod(col("doc_id"), lit(4)) === 0,
          lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&id="),
        org.apache.spark.sql.functions.pmod(col("doc_id"), lit(13))
          .cast("string"),
        lit("&ref=tw"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.pmod(col("doc_id"), lit(5)) === 0,
          lit("&lang=en")).otherwise(lit("")),
        lit("#frag"), col("doc_id").cast("string")).as("url"))

  /** Canonicalization CTE over `uf` mirroring
    * [[graft.operators.TextOps.canonicalizeUrl]], ending in
    * `canon(doc_id, url, canonical_url, domain)` — shared by the
    * canonical row and the dedup/cap row so the rules cannot drift. */
  private[graft] val UrlCanonCte: String =
    s"""$UrlFixtureSql,
      |u1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nf FROM uf),
      |u2 AS (SELECT doc_id, url, nf,
      |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_replace(regexp_replace(
      |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)),
      |    ':(80|443)$$', ''), '^www\\.', '') AS host,
      |  regexp_replace(regexp_extract(nf,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1), '/+$$', '') AS path,
      |  array_to_string(list_sort(list_filter(
      |    string_split(regexp_extract(nf, '\\?(.*)$$', 1), '&'),
      |    p -> NOT (p[1:4] IN ('utm_', 'ref=') OR p = ''))), '&') AS q
      |  FROM u1),
      |canon AS (SELECT doc_id, url,
      |  scheme || '://' || host ||
      |  CASE WHEN path = '' THEN '/' ELSE path END ||
      |  CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url,
      |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
      |  FROM u2)""".stripMargin

  /** Per-slice minhash signature + band CTEs over a sliced shingle
    * source `src(doc_id, s)` — the serve oracle builds the indexed and
    * batch sides separately, with the SAME 16-hash/4-band arithmetic
    * as [[MinhashSigSql]] (kept in its structure so the construction
    * cannot drift between the one-corpus and the index/serve routes). */
  private[graft] def minhashSigSliceSql(src: String, tag: String): String = {
    val mins = (0 until 16)
      .map(k => s"min(md5(s||':$k')) AS m$k").mkString(", ")
    val bands = (0 until 4).map { b =>
      val parts = (b * 4 until b * 4 + 4).map(i => s"m$i").mkString("||'|'||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_hash FROM sig_$tag"
    }.mkString(" UNION ALL ")
    s"""sig_$tag AS (SELECT doc_id, $mins FROM $src GROUP BY doc_id),
       |bands_$tag AS ($bands)""".stripMargin
  }

  private[graft] val ClosureCte: String =
    """edges AS (SELECT doc_a AS a, doc_b AS b FROM ndup
      |          UNION ALL SELECT doc_b, doc_a FROM ndup),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (SELECT id, id AS grp FROM nodes
      |          UNION
      |          SELECT e.b AS id, r.grp FROM reach r JOIN edges e ON e.a = r.id),
      |grp AS (SELECT id AS doc_id, MIN(grp) AS group_id FROM reach GROUP BY id)""".stripMargin

  /** Winnowing fingerprint sets (k=8, w=4) ending in `fp(doc_id, fp)`
    * — shared by text_winnowing and dedup_winnowing so the fingerprint
    * definition cannot drift between the two oracles. */
  private[graft] val WinnowCte: String =
    """cs AS (
      |  SELECT doc_id, string_split(text, '') AS cs FROM documents
      |  WHERE len(string_split(text, '')) >= 11),
      |kh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(cs) - 7 + 1), i ->
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(cs[i:i+7], c -> CAST(ascii(c) AS BIGINT))),
      |        (acc, c) -> (acc * 131 + c) % 2147483647)) AS kh
      |  FROM cs),
      |fp AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(kh) - 3 + 1), j ->
      |      list_aggregate(kh[j:j+3], 'min'))) AS fp
      |  FROM kh)""".stripMargin

  /** LSH bucket assignment (`nPlanes` hyperplanes over the quantized
    * vectors) ending in `bk(vec_id, bucket)` / `eb(vec_id, q, bucket)`
    * — shared by sim_lsh_nn, sim_lsh_multiprobe, and
    * dedup_embedding_lsh so the bucket definition cannot drift between
    * the oracles. */
  private[graft] def lshBucketCte(nPlanes: Int): String =
    s"""pl AS (SELECT j AS plane, md5('p'||j||'a') || md5('p'||j||'b') AS hex
      |       FROM (SELECT unnest(range($nPlanes)) AS j)),
      |plc AS (SELECT plane, c,
      |               (strpos('0123456789abcdef', substr(hex, c+1, 1)) - 1) * 2 - 15 AS coef
      |        FROM pl, (SELECT unnest(range(64)) AS c)),
      |comp AS (SELECT vec_id, unnest(q) AS qc,
      |                generate_subscripts(q, 1) - 1 AS c FROM e),
      |pd AS (SELECT vec_id, plane, SUM(qc * coef) AS pdot
      |       FROM comp JOIN plc USING (c) GROUP BY 1, 2),
      |bk AS (SELECT vec_id,
      |              CAST(SUM(CASE WHEN pdot > 0 THEN CAST(pow(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM pd GROUP BY 1),
      |eb AS (SELECT e.vec_id, e.q, bk.bucket FROM e JOIN bk USING (vec_id))""".stripMargin

  /** The 8-plane instance the sim_lsh_* rows use. */
  private[graft] val LshBucketCte: String = lshBucketCte(8)

  /** PQ sub-slices + seed codebooks: `sub(vec_id, s, sq)` and
    * `cb(s, code, cq)` — 4 subspaces of 16, codebooks = slices of the
    * first 16 vectors. The shared head of every PQ oracle. */
  private[graft] val PqSubCte: String =
    """sub AS (SELECT vec_id, s, q[s*16+1 : s*16+16] AS sq
      |        FROM e, (SELECT unnest(range(4)) AS s)),
      |cb AS (SELECT s, vec_id AS code, sq AS cq FROM sub WHERE vec_id < 16)""".stripMargin

  /** L2 encode against codebook CTE `cbCte`, CTE names prefixed `p`:
    * norms, dots, argmin (ties -> smallest code) — ends in
    * `${p}enc(vec_id, s, code)`. The ONE generator behind every PQ
    * assignment (scoring AND each training round), so the encode rule
    * cannot drift between them. */
  private[graft] def pqEncodeCte(cbCte: String, p: String): String =
    s"""${p}cbn AS (SELECT s, code, SUM(v*v) AS cn FROM (
      |    SELECT s, code, unnest(cq) AS v FROM $cbCte) GROUP BY 1, 2),
      |${p}encd AS (SELECT vec_id, s, code, SUM(a*b) AS dot FROM (
      |    SELECT sub.vec_id, sub.s, c.code,
      |           unnest(sub.sq) AS a, unnest(c.cq) AS b
      |    FROM sub JOIN $cbCte c USING (s)) GROUP BY 1, 2, 3),
      |${p}enc AS (SELECT vec_id, s, code FROM (
      |    SELECT d.vec_id, d.s, d.code,
      |           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s
      |             ORDER BY n.cn - 2*d.dot, d.code) AS rk
      |    FROM ${p}encd d JOIN ${p}cbn n ON n.s = d.s AND n.code = d.code)
      |    WHERE rk = 1)""".stripMargin

  /** PQ scoring tail against codebook CTE `cbCte`, CTE names prefixed
    * `p`: [[pqEncodeCte]] + query LUT + ADC scores — ends in
    * `${p}sc(query_id, vec_id, adot)`. Serves the seed (sim_pq_topk /
    * sim_pq_recall) and trained (sim_pq_trained_recall) oracles. */
  private[graft] def pqScoreAgainst(cbCte: String, p: String): String =
    s"""${pqEncodeCte(cbCte, p)},
      |${p}lutd AS (SELECT query_id, s, code, SUM(a*b) AS pdot FROM (
      |    SELECT q.vec_id AS query_id, q.s, c.code,
      |           unnest(q.sq) AS a, unnest(c.cq) AS b
      |    FROM sub q JOIN $cbCte c USING (s) WHERE q.vec_id < 5) GROUP BY 1, 2, 3),
      |${p}sc AS (SELECT l.query_id, en.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS adot
      |       FROM ${p}enc en JOIN ${p}lutd l ON l.s = en.s AND l.code = en.code
      |       WHERE en.vec_id <> l.query_id GROUP BY 1, 2)""".stripMargin

  /** Seed-codebook PQ pipeline ending in `sc(query_id, vec_id, adot)`. */
  private[graft] val PqScoreCte: String =
    s"$PqSubCte,\n${pqScoreAgainst("cb", "")}"

  /** Per-subspace Lloyd rounds over the PQ codebooks, mirroring
    * [[graft.operators.EmbeddingOps.pqTrainCodebooks]]: L2 assignment
    * with the encoder's tie-break, per-(sub, code, component) means
    * re-quantized with round-half-away. Produces `pcb1..pcb$iters`
    * from `pcb0`. */
  /** Lloyd round count for the trained-PQ oracle — lives in ONE place
    * (rounds generator + final-codebook name) and mirrors
    * [[graft.operators.EmbeddingOps.pqTrainCodebooks]]'s default. */
  private[graft] val PqTrainIters = 2

  private[graft] def pqTrainRounds(iters: Int): String =
    (1 to iters).map { i =>
      s"""${pqEncodeCte(s"pcb${i - 1}", s"r$i")},
        |pcb$i AS (SELECT s, code, list(mq ORDER BY c) AS cq FROM (
        |    SELECT a.s, a.code, u.c,
        |           CAST(round(CAST(SUM(u.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        |    FROM r${i}enc a JOIN (
        |      SELECT vec_id, s, unnest(sq) AS v,
        |             generate_subscripts(sq, 1) AS c FROM sub) u
        |      ON u.vec_id = a.vec_id AND u.s = a.s
        |    GROUP BY 1, 2, 3) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")

  /** IVF-PQ (IVFADC) pipeline as CTEs ending in
    * `xsc(query_id, vec_id, adot)`: coarse assignment (cosine-ranked
    * seed centroids, the sim_ivf_topk CTEs), EXACT integer residuals
    * per coarse cell, residual PQ codebooks + L2 encode (via
    * [[pqEncodeCte]] over the residual `sub`), query LUT on RAW query
    * sub-slices, and the decomposed inner-product score
    * dot(q, centroid) + sum of M ADC lookups. Shared by the live,
    * persisted, and recall oracles so the replay cannot drift. */
  private[graft] val IvfPqScoreCte: String =
    s"""cents AS (SELECT vec_id AS cent_id, q AS cq, nn AS cn
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
      |cells AS (SELECT vec_id, cent_id AS cell FROM rankedc WHERE crk = 1),
      |probes AS (SELECT vec_id AS query_id, cent_id AS cell
      |           FROM rankedc WHERE vec_id < 5 AND crk <= 2),
      |ecomp AS (SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS v FROM e),
      |ccomp AS (SELECT cent_id, generate_subscripts(cq, 1) AS i, unnest(cq) AS cv FROM cents),
      |sub AS (SELECT ec.vec_id, (ec.i - 1) // 16 AS s,
      |               list(ec.v - cc.cv ORDER BY ec.i) AS sq
      |        FROM cells cl
      |        JOIN ecomp ec ON ec.vec_id = cl.vec_id
      |        JOIN ccomp cc ON cc.cent_id = cl.cell AND cc.i = ec.i
      |        GROUP BY 1, 2),
      |rcb AS (SELECT s, vec_id AS code, sq AS cq FROM sub WHERE vec_id < 16),
      |${pqEncodeCte("rcb", "x")},
      |qsub AS (SELECT vec_id, s, q[s*16+1 : s*16+16] AS sq
      |         FROM e, (SELECT unnest(range(4)) AS s) WHERE vec_id < 5),
      |xlutd AS (SELECT query_id, s, code, SUM(a*b) AS pdot FROM (
      |    SELECT q.vec_id AS query_id, q.s, c.code,
      |           unnest(q.sq) AS a, unnest(c.cq) AS b
      |    FROM qsub q JOIN rcb c USING (s)) GROUP BY 1, 2, 3),
      |cd0 AS (SELECT query_id, cell, SUM(a*b) AS cdot FROM (
      |    SELECT p.query_id, p.cell, unnest(eq.q) AS a, unnest(c.cq) AS b
      |    FROM probes p JOIN e eq ON eq.vec_id = p.query_id
      |                  JOIN cents c ON c.cent_id = p.cell) GROUP BY 1, 2),
      |xsc AS (SELECT ca.query_id, ca.vec_id,
      |               CAST(MIN(cd.cdot) + SUM(l.pdot) AS BIGINT) AS adot
      |        FROM (SELECT p.query_id, p.cell, cl.vec_id
      |              FROM probes p JOIN cells cl ON cl.cell = p.cell
      |              WHERE cl.vec_id <> p.query_id) ca
      |        JOIN xenc en ON en.vec_id = ca.vec_id
      |        JOIN xlutd l ON l.query_id = ca.query_id
      |                    AND l.s = en.s AND l.code = en.code
      |        JOIN cd0 cd ON cd.query_id = ca.query_id AND cd.cell = ca.cell
      |        GROUP BY 1, 2)""".stripMargin

  /** Exact re-scoring of the top-30 ADC candidates over `xsc`,
    * ending in `rsc(query_id, vec_id, cos)` — shared by the rerank
    * serving row and the rerank-recall row so the candidate budget
    * and the exact-cosine arithmetic cannot drift between them. */
  private[graft] val RerankCte: String =
    """cnd AS (SELECT query_id, vec_id FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
      |  FROM xsc) WHERE rk <= 30),
      |rp AS (SELECT c.query_id, c.vec_id, unnest(qe.q) AS a, unnest(ce.q) AS b
      |       FROM cnd c JOIN e qe ON qe.vec_id = c.query_id
      |                  JOIN e ce ON ce.vec_id = c.vec_id),
      |rdots AS (SELECT query_id, vec_id, SUM(a*b) AS dot FROM rp GROUP BY 1, 2),
      |rsc AS (SELECT rdots.query_id, rdots.vec_id,
      |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
      |        FROM rdots JOIN n nq ON nq.vec_id = rdots.query_id
      |                   JOIN n nv ON nv.vec_id = rdots.vec_id)""".stripMargin

  /** Shared ranking tail over `xsc` for the two IVF-PQ top-k rows. */
  private[graft] val IvfPqTopKTail: String =
    """SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, adot FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rk
      |  FROM xsc) WHERE rk <= 10""".stripMargin

  /** Exact brute-force top-10 per query ending in
    * `brute(query_id, vid)` — shared by the recall oracles. */
  private[graft] val BruteTop10Cte: String =
    """bp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
      |              unnest(qe.q) AS a, unnest(ce.q) AS b
      |       FROM e qe, e ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
      |bdots AS (SELECT query_id, vid, SUM(a*b) AS dot FROM bp GROUP BY 1, 2),
      |bsc AS (SELECT query_id, vid,
      |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
      |        FROM bdots JOIN n nq ON nq.vec_id = query_id
      |                   JOIN n nv ON nv.vec_id = vid),
      |brute AS (SELECT query_id, vid FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
      |  FROM bsc) WHERE rk <= 10)""".stripMargin

  /** SQ8 scalar-quantization CTEs over `e(vec_id, label, q)`: per-dim
    * [mn, mx] ranges, byte codes c = (q-mn)*255 // (mx-mn), exact
    * reconstruction r = mn*255 + c*(mx-mn), ending in
    * `rc(vec_id, label, r)` + `rn(vec_id, nn)` — shared by
    * sim_sq8_topk and sim_sq8_recall so the code arithmetic cannot
    * drift between the ranking and its measurement. The numerator is
    * >= 0 by construction (mn is the per-dim minimum), so DuckDB's
    * flooring `//` agrees with Spark's truncating `div`. */
  private[graft] val SqCte: String =
    """ei AS (SELECT vec_id, q,
      |              unnest(generate_series(1, CAST(len(q) AS INT))) AS i
      |       FROM e),
      |st AS (SELECT i, MIN(q[i]) AS mn, MAX(q[i]) AS mx FROM ei GROUP BY 1),
      |stl AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      |rc AS (SELECT vec_id, label,
      |         list_transform(generate_series(1, len(q)), i ->
      |           CASE WHEN mxs[i] = mns[i] THEN mns[i] * 255
      |                ELSE mns[i] * 255
      |                   + ((q[i] - mns[i]) * 255 // (mxs[i] - mns[i]))
      |                     * (mxs[i] - mns[i]) END) AS r
      |       FROM e, stl),
      |rn AS (SELECT vec_id, SUM(v*v) AS nn
      |       FROM (SELECT vec_id, unnest(r) AS v FROM rc) GROUP BY 1)"""
      .stripMargin

  /** Overlap-vs-brute tail over an approximate top-k CTE
    * `approxCte(query_id, vec_id)`. */
  private[graft] def recallTail(approxCte: String): String =
    s"""hits AS (SELECT b.query_id, COUNT(*) AS nh
      |         FROM brute b JOIN $approxCte p ON p.query_id = b.query_id AND p.vec_id = b.vid
      |         GROUP BY 1)
      |SELECT q.query_id, CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_overlap,
      |       CAST(COALESCE(h.nh, 0) AS DOUBLE) / 10 AS recall_at_k
      |FROM (SELECT DISTINCT query_id FROM brute) q
      |LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin

  /** Shared scoring tail over a candidate-pair CTE `pp(vid, nn_id, x,
    * y)`: exact dot, cosine, top-1 per vector, null-neighbor left
    * join. */
  private[graft] val LshScoreTail: String =
    """pdots AS (SELECT vid, nn_id, SUM(x*y) AS dot FROM pp GROUP BY 1, 2),
      |psc AS (SELECT vid, nn_id,
      |               CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
      |        FROM pdots JOIN n na ON na.vec_id = vid
      |                   JOIN n nb ON nb.vec_id = nn_id),
      |best AS (SELECT vid, nn_id, cos FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nn_id) AS rk
      |  FROM psc) WHERE rk = 1)
      |SELECT bk.vec_id, bk.bucket, best.nn_id, best.cos
      |FROM bk LEFT JOIN best ON best.vid = bk.vec_id""".stripMargin

  private[graft] val SimhashSql: String = {
    val votes = (0 until 32).map(j =>
      s"SUM(CASE WHEN strpos('0123456789abcdef', substr(h,${j + 1},1))-1 >= 8 THEN cnt ELSE -cnt END) AS v$j")
      .mkString(", ")
    val bits = (0 until 32).map(j =>
      s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""wc AS (SELECT doc_id, word, count(*) AS cnt, md5(word) AS h
       |       FROM tok GROUP BY doc_id, word),
       |v AS (SELECT doc_id, $votes FROM wc GROUP BY doc_id),
       |shh AS (SELECT doc_id, $bits AS simhash FROM v)""".stripMargin
  }

  /** Lloyd-trained coarse-quantizer assignment as CTEs — `iters`
    * rounds of (assign by exact-integer cosine, re-quantize means
    * with round-half-away — mirrors
    * [[graft.operators.EmbeddingOps.kmeansCentroids]]), ending in
    * `cells(vec_id, cell)` with `eq`, `cents$iters`, and `frk` still
    * in scope. Shared by the IVF-recall and semantic-dedup oracles so
    * the training+assignment pipeline lives in ONE generator. */
  private[graft] def kmeansCellsCte(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val p = s"cents${i - 1}"
      s"""scored$i AS (SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
         |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
         |    FROM eq, $p c) GROUP BY 1, 2),
         |rk$i AS (SELECT s.vec_id, s.cent_id,
         |         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
         |           CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
         |           s.cent_id) AS crk
         |  FROM scored$i s JOIN n nv ON nv.vec_id = s.vec_id
         |                  JOIN $p c ON c.cent_id = s.cent_id),
         |asn$i AS (SELECT vec_id, cent_id AS cell FROM rk$i WHERE crk = 1),
         |cm$i AS (SELECT a.cell, CAST(generate_subscripts(e.q, 1) - 1 AS INTEGER) AS c,
         |                unnest(e.q) AS v
         |         FROM asn$i a JOIN e ON e.vec_id = a.vec_id),
         |mean$i AS (SELECT cell, c, CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
         |           FROM cm$i GROUP BY 1, 2),
         |cents$i AS (SELECT cell AS cent_id, list(mq ORDER BY c) AS cq,
         |                   CAST(SUM(mq*mq) AS BIGINT) AS cn
         |            FROM mean$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""eq AS (SELECT e.vec_id, e.q, n.nn FROM e JOIN n USING (vec_id)),
       |cents0 AS (SELECT vec_id AS cent_id, q AS cq, CAST(nn AS BIGINT) AS cn
       |           FROM e JOIN n USING (vec_id) WHERE vec_id < ${EmbeddingOps.KmSeeds}),
       |$rounds,
       |fscored AS (SELECT vec_id, cent_id, SUM(a*b) AS dot FROM (
       |    SELECT eq.vec_id, c.cent_id, unnest(eq.q) AS a, unnest(c.cq) AS b
       |    FROM eq, cents$iters c) GROUP BY 1, 2),
       |frk AS (SELECT s.vec_id, s.cent_id,
       |        ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |          CAST(s.dot AS DOUBLE) / (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
       |          s.cent_id) AS crk
       | FROM fscored s JOIN n nv ON nv.vec_id = s.vec_id
       |                JOIN cents$iters c ON c.cent_id = s.cent_id),
       |cells AS (SELECT vec_id, cent_id AS cell FROM frk WHERE crk = 1)""".stripMargin
  }

  /** Full trained-IVF recall pipeline as one oracle:
    * [[kmeansCellsCte]] (2 Lloyd rounds), then the nProbe=4 IVF probe
    * with the trained centroids, then recall@10 against the
    * brute-force top-10. */
  private[graft] val IvfRecallSql: String = {
    s"""${kmeansCellsCte(EmbeddingOps.KmIters)},
       |probes AS (SELECT vec_id AS query_id, cent_id AS cell
       |           FROM frk WHERE vec_id < 5 AND crk <= 4),
       |cand AS (SELECT p.query_id, cl.vec_id
       |         FROM probes p JOIN cells cl USING (cell)
       |         WHERE cl.vec_id <> p.query_id),
       |cd AS (SELECT query_id, vid, SUM(a*b) AS dot FROM (
       |    SELECT ca.query_id, ca.vec_id AS vid,
       |           unnest(eq1.q) AS a, unnest(eq2.q) AS b
       |    FROM cand ca
       |    JOIN eq eq1 ON eq1.vec_id = ca.query_id
       |    JOIN eq eq2 ON eq2.vec_id = ca.vec_id) GROUP BY 1, 2),
       |isc AS (SELECT query_id, vid,
       |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
       |        FROM cd JOIN n nq ON nq.vec_id = query_id
       |                JOIN n nv ON nv.vec_id = vid),
       |ivf AS (SELECT query_id, vid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
       |  FROM isc) WHERE rk <= 10),
       |bp AS (SELECT qe.vec_id AS query_id, ce.vec_id AS vid,
       |              unnest(qe.q) AS a, unnest(ce.q) AS b
       |       FROM e qe, e ce WHERE qe.vec_id < 5 AND ce.vec_id <> qe.vec_id),
       |bdots AS (SELECT query_id, vid, SUM(a*b) AS dot FROM bp GROUP BY 1, 2),
       |bsc AS (SELECT query_id, vid,
       |               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nv.nn AS DOUBLE))) AS cos
       |        FROM bdots JOIN n nq ON nq.vec_id = query_id
       |                   JOIN n nv ON nv.vec_id = vid),
       |brute AS (SELECT query_id, vid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vid) AS rk
       |  FROM bsc) WHERE rk <= 10),
       |hits AS (SELECT b.query_id, COUNT(*) AS nh
       |         FROM brute b JOIN ivf i ON i.query_id = b.query_id AND i.vid = b.vid
       |         GROUP BY 1)
       |SELECT q.query_id, CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_overlap,
       |       CAST(COALESCE(h.nh, 0) AS DOUBLE) / 10 AS recall_at_k
       |FROM (SELECT DISTINCT query_id FROM brute) q
       |LEFT JOIN hits h ON h.query_id = q.query_id""".stripMargin
  }

}
