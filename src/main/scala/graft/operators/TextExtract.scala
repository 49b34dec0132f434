package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extraction, normalization, language-ID, quality scoring, and
  * corpus-analysis operators — the per-document text surface of
  * [[TextOps]]. Split from the single object purely mechanically;
  * every member keeps its name, signature, and behavior. */
private[graft] trait TextExtractOps { this: TextOps.type =>

  /** HTML/boilerplate text extraction — the front door of a web-corpus
    * curation chain (CCNet processes WET text, but trafilatura/jusText
    * -class pipelines start from markup): strip non-content blocks,
    * convert structure to line breaks, drop low-density lines. The
    * rendering is deliberately regex/array-expression-only (no UDF, no
    * DOM parse) so it is whole-stage-codegen'd AND bit-replayable by
    * the DuckDB oracle — which also constrains the dialect to the
    * RE2-compatible subset (no backreferences, hence one pass per
    * stripped block tag).
    *
    * Pipeline per row (pure per-partition projection — NO shuffle, the
    * operator is a map over the corpus):
    *  1. `<script>`/`<style>` blocks removed wholesale ((?is),
    *     non-greedy) — BEFORE tag stripping, so `1 < 2` inside script
    *     bodies cannot shed tag fragments into text;
    *  2. line-structuring tags (`<br>`, closes of p/div/li/ul/nav/
    *     title/h1-6/tr) become newlines;
    *  3. every remaining tag becomes a space;
    *  4. the five ubiquitous entities decode (`&amp;` LAST, so
    *     `&amp;lt;` decodes to the literal `&lt;` and not `<`);
    *  5. lines split on newline, inner whitespace collapses, blanks
    *     drop — `n_lines` counts the nonblank lines;
    *  6. the text-density filter keeps lines with at least
    *     `minLineTokens` whitespace tokens (nav crumbs, list chrome,
    *     button labels are short; body prose is not — the jusText
    *     length heuristic reduced to its deterministic core).
    *
    * Output: (doc_id, text_extracted — kept lines joined by newline,
    * n_lines, n_lines_kept, n_chars). Scale shape: one projection,
    * no shuffle, no state; plans fuse with whatever consumes it. */
  /** `docs` plus the extraction intermediates (__lines, __kept) of
    * [[extractHtml]] — the single definition the standalone operator
    * and the curation chain's FUSED front stage both project from, so
    * the tag/entity/line rules cannot drift between them (the
    * qualityDerived pattern). Keeps every input column. */
  private[operators] def extractDerived(docs: DataFrame,
      htmlCol: String = "html", minLineTokens: Int = 4): DataFrame = {
    require(minLineTokens >= 1,
      s"minLineTokens must be >= 1, got $minLineTokens")
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val broken = regexp_replace(noStyle,
      "(?i)<(br|/p|/div|/li|/ul|/nav|/title|/h[1-6]|/tr)[^>]*>", "\n")
    val untagged = regexp_replace(broken, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (c, (e, ch)) => regexp_replace(c,
        java.util.regex.Pattern.quote(e), ch) }
    docs
      .withColumn("__decoded", decoded)
      .withColumn("__lines", expr(
        "filter(transform(split(__decoded, '\\n'), " +
          "l -> trim(regexp_replace(l, '\\\\s+', ' '))), l -> l != '')"))
      .withColumn("__kept", expr(
        s"filter(__lines, l -> size(split(l, ' ')) >= $minLineTokens)"))
  }

  def extractHtml(docs: DataFrame, htmlCol: String = "html",
      minLineTokens: Int = 4): DataFrame =
    extractDerived(docs, htmlCol, minLineTokens)
      .select(col("doc_id"),
        array_join(col("__kept"), "\n").as("text_extracted"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        length(array_join(col("__kept"), "\n")).cast("long")
          .as("n_chars"))

  /** T5-style span corruption (Raffel et al. 2020, the denoising
    * objective behind T5/UL2): deterministic hash-chosen token
    * windows mask out of the input and become the target, each span
    * introduced by its own `<extra_id_k>` sentinel. The construction
    * here is fixed-width: positions group into windows of `spanLen`
    * tokens, window g of doc d masks iff the first md5 nibble of
    * `d:g:corrupt` is below `maskNibbles` (maskNibbles/16 of windows
    * — 3/16 ~ the paper's 15% at the default), sentinels number
    * masked windows left to right (adjacent masked windows keep
    * separate sentinels rather than merging). Hash-deterministic like
    * [[splitAssign]]: every engine, run, and machine corrupts a doc
    * identically, and re-runs over a grown corpus never re-roll an
    * existing doc's spans.
    *
    * Scale shape: token-cardinality keyed shuffles only — window
    * grouping on (doc, g), the sentinel numbering as a running sum
    * over each doc's windows, one doc-keyed reassembly aggregate
    * (per-doc collect_list, bounded by the doc's own length — the
    * [[dedupLines]] reassembly discipline); zero broadcasts, zero
    * UDFs. */
  def spanCorrupt(docs: DataFrame, spanLen: Int = 3,
      maskNibbles: Int = 3): DataFrame = {
    require(spanLen > 0, "spanLen must be positive")
    require(maskNibbles >= 0 && maskNibbles <= 16,
      "maskNibbles is a nibble threshold in [0, 16]")
    val win = tokens(docs)
      .withColumn("g", expr(s"pos div $spanLen"))
      .groupBy(col("doc_id"), col("g"))
      .agg(concat_ws(" ", expr(
        "transform(sort_array(collect_list(struct(pos, word))), r -> r.word)"))
        .as("wtext"))
      .withColumn("masked",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("g").cast("string"), lit(":corrupt"))), 1, 1), 16, 10)
          .cast("int") < maskNibbles)
    val wk = Window.partitionBy(col("doc_id")).orderBy(col("g"))
    win
      .withColumn("k",
        sum(when(col("masked"), 1L).otherwise(0L)).over(wk))
      .withColumn("sentinel",
        concat(lit("<extra_id_"), (col("k") - 1).cast("string"), lit(">")))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(g, " +
            "if(masked, sentinel, wtext) as t))), r -> r.t)"))
          .as("input_text"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(if(masked, struct(g, " +
            "concat(sentinel, ' ', wtext) as t), null))), r -> r.t)"))
          .as("target_text"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
  }

  /** UL2-style mixture-of-denoisers accounting (Tay et al. 2022):
    * docs assign hash-deterministically to the R/S/X denoiser arms
    * (regular short spans / sequential long span / extreme rate), and
    * the card reports each arm's doc count, window count, and masked
    * mass under ITS corruption parameters — the objective-mixture
    * budget read before generating the actual pairs with
    * [[spanCorrupt]] per arm. Window masking reuses spanCorrupt's
    * rule exactly (first md5 nibble of `doc:g:corrupt` under the
    * arm's threshold over spanLen-token windows), so the counts here
    * ARE the pair generator's. Pure keyed aggregates. */
  def denoiserMix(docs: DataFrame): DataFrame = {
    // (arm, spanLen, maskNibbles): R = short spans at ~19%,
    // S = long spans at ~19%, X = short spans at ~50% (extreme rate)
    val arms = Seq(("r", 3, 3), ("s", 8, 3), ("x", 3, 8))
    // arm draw: 4 hex nibbles (16 bits) mod 3 — 65536 % 3 = 1, so the
    // residual bias toward arm 0 is 1/65536 (~0.0015%), negligible
    // against the intended even R/S/X mixture (2 nibbles would skew
    // arm 0 by ~0.4%: 86/256 vs 85/256)
    val assigned = docs
      .withColumn("arm_i",
        pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":denoiser"))), 1, 4), 16, 10).cast("long"), lit(3L)))
      .pinnedLazy
    arms.zipWithIndex.map { case ((arm, spanLen, nib), i) =>
      tokens(assigned.where(col("arm_i") === i.toLong))
        .withColumn("g", expr(s"pos div $spanLen"))
        .select(col("doc_id"), col("g")).distinct()
        .withColumn("masked",
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("g").cast("string"), lit(":corrupt"))), 1, 1),
            16, 10).cast("int") < nib)
        .groupBy()
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_windows"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
        .select(lit(arm).as("arm"), col("n_docs"), col("n_windows"),
          col("n_masked"))
    }.reduce(_ unionByName _)
      .withColumn("masked_permille",
        expr("n_masked * 1000 div n_windows"))
  }

  /** Length-bucketed batching card — the padding-efficiency read
    * before choosing bucket boundaries for fixed-shape training
    * batches: docs bucket to the smallest power of two holding their
    * token count, and each bucket reports how much of its padded
    * capacity is waste (bucket_size*n_docs - real tokens, exact
    * integers, one permille division). One per-row bucket expression
    * + one aggregate — nothing else moves. */
  def lengthBuckets(docs: DataFrame): DataFrame =
    docs
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", when(col("n_tokens") <= 1, 1L)
        .otherwise(expr(
          "cast(shiftleft(1L, length(bin(n_tokens - 1))) as long)")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padding_waste",
        col("bucket") * col("n_docs") - col("sum_tokens"))
      .withColumn("waste_permille",
        expr("padding_waste * 1000 div (bucket * n_docs)"))

  /** Inverse-cloze-task pair mining (Lee et al. 2019, "Latent
    * Retrieval for Weakly Supervised Open Domain QA" — the standard
    * retrieval-pretraining objective): a hash-chosen `w`-token window
    * becomes the QUERY, the document with that window excised becomes
    * the positive CONTEXT. Window choice is the [[splitAssign]]
    * discipline — first 4 md5 nibbles of `doc_id:ict` mod the window
    * count, so every engine/run picks the same window (with the
    * documented 1/65536 low-position bias; docs longer than 65536
    * tokens would bias further — chunk first). Pure per-row array
    * expressions, no shuffle; docs without a non-empty context
    * (fewer than w+1 tokens) drop. */
  def ictPairs(docs: DataFrame, w: Int = 8): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= w + 1)
      .withColumn("nw", (size(col("t")) - w + 1).cast("long"))
      .withColumn("start", pmod(
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":ict"))), 1, 4), 16, 10).cast("long"), col("nw")))
      .select(col("doc_id"), col("start").cast("int").as("start_pos"),
        expr(s"concat_ws(' ', slice(t, cast(start + 1 as int), $w))")
          .as("query_text"),
        expr("concat_ws(' ', concat(slice(t, 1, cast(start as int)), " +
          s"slice(t, cast(start + $w + 1 as int), size(t))))")
          .as("context_text"))
  }

  /** SFT pair assembly: adjacent doc_id pairs (even = prompt, odd =
    * response) template into one role-marked training sequence —
    * `<|user|> prompt <|assistant|> response <|end|>` — with the
    * assembled token count and a `kept` flag for the fixed-context
    * cut. The instruction-tuning counterpart of [[seqPack]]: packing
    * arranges documents, this ASSEMBLES conversation turns (the
    * role-template step every chat fine-tune runs before
    * tokenization). One keyed equi-join on pair_id; everything else
    * is per-row. */
  def sftPack(docs: DataFrame, maxTokens: Long = 300L): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val p = docs.where(col("doc_id") % 2 === 0)
      .select(expr("doc_id div 2").as("pair_id"),
        col("doc_id").as("prompt_id"), col("text").as("prompt"))
    val r = docs.where(col("doc_id") % 2 === 1)
      .select(expr("doc_id div 2").as("pair_id"),
        col("doc_id").as("response_id"), col("text").as("response"))
    p.join(r, Seq("pair_id"))
      .withColumn("seq", concat(lit("<|user|> "), col("prompt"),
        lit(" <|assistant|> "), col("response"), lit(" <|end|>")))
      .withColumn("n_tokens", size(split(col("seq"), " ")).cast("long"))
      .withColumn("kept", col("n_tokens") <= maxTokens)
      .select(col("pair_id"), col("prompt_id"), col("response_id"),
        col("seq"), col("n_tokens"), col("kept"))
  }

  /** Text normalization — the lexical front door of a curation chain
    * (run before hashing/shingling so trivially-reformatted
    * duplicates collide): lowercase, strip every character outside
    * [a-z0-9 ], collapse whitespace runs, trim. Pure per-row
    * expressions (codegen'd, no shuffle at all); reports raw and
    * normalized token counts alongside the cleaned text. The regex
    * class is deliberately the portable intersection both engines
    * implement identically (no Unicode classes — the oracle replays
    * with the same pattern + DuckDB's 'g' flag). */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens_raw"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")).as("text_norm"))
      .withColumn("n_tokens_norm",
        size(split(col("text_norm"), " ")).cast("long"))
      .select(col("doc_id"), col("text_norm"), col("n_tokens_raw"),
        col("n_tokens_norm"))

  /** Vocabulary-growth (Heaps-law) card: the corpus splits into
    * `nSlices` doc_id-ORDERED slices standing for ingest order
    * (slice = doc_id*nSlices div n_docs, clamped — exact quantiles
    * for dense ids, a monotone id-ordered partition otherwise); each
    * word counts as NEW in the first slice it appears (min slice per
    * word — one vocabulary-keyed aggregate), and the cumulative
    * vocabulary size per slice is a running sum over the nSlices-row
    * frame. The read that says whether a tokenizer's vocab budget is
    * saturating or the corpus keeps minting types. Only the 1-row
    * count broadcasts. */
  def vocabGrowth(docs: DataFrame, nSlices: Int = 10): DataFrame = {
    require(nSlices >= 1, s"nSlices must be >= 1, got $nSlices")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val firstSlice = tokens(docs)
      .crossJoin(broadcast(n)) // 1-row scalar frame
      .select(least(expr(s"doc_id * $nSlices div n_docs"),
        lit(nSlices - 1L)).as("slice"), col("word"))
      .groupBy(col("word")).agg(min(col("slice")).as("slice"))
      .groupBy(col("slice")).agg(count(lit(1)).as("n_new_words"))
    firstSlice.withColumn("vocab_size",
      sum(col("n_new_words")).over(Window.orderBy(col("slice"))
        .rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Multi-phrase blocklist screening — the safety/compliance filter
    * pass (banned phrases, boilerplate markers, license strings):
    * every document reports how many blocklist occurrences it
    * contains and whether it is blocked. Phrases group by token
    * count; for each distinct length L the document's L-gram stream
    * (the [[shinglesRaw]] windowless transform generalized) joins the
    * broadcast phrase list — the phrase set is a construction
    * constant, the only broadcast; per-L streams union and aggregate
    * once per doc. Zero-hit docs surface with n_hits 0 via the
    * corpus left join (a filter must SAY it inspected everything). */
  def blocklistScreen(docs: DataFrame,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty && phrases.distinct.size == phrases.size,
      "phrases must be non-empty and distinct")
    require(phrases.forall(_.trim.nonEmpty),
      "phrases must be non-blank")
    val s = docs.sparkSession
    import s.implicits._
    val d = docs.pinnedLazy
    val byLen = phrases.groupBy(_.split(" ").length)
    val hits = byLen.map { case (l, ps) =>
      val grams = d
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= l)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(w) - $l), " +
            s"i -> concat_ws(' ', slice(w, i + 1, $l)))")).as("g"))
      grams.join(broadcast(ps.toDF("g")), Seq("g"))
        .select(col("doc_id"), col("g").as("phrase"))
    }.reduce(_ unionByName _)
    val agg = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("phrase")).as("n_phrases"))
    d.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"))
      .withColumn("blocked", col("n_hits") > 0)
  }

  /** Distinctive-vocabulary card: per source, the top `k` words most
    * over-represented vs the REST of the corpus — the
    * what-is-this-feed-actually-about read (and the drift alarm when
    * a feed's distinctive terms change release-over-release). The
    * over-representation score is the bit-length-quantized log of the
    * cross-multiplied rate ratio floor(log2((c_s * t_rest) div
    * ((c_r + 1) * t_s))) — add-one on the rest count so
    * source-exclusive words score, products in DECIMAL(38,0) (they
    * reach ~1e26 at corpus scale; the oracle mirrors with HUGEINT).
    * Only over-represented words (ratio >= 1) rank; the per-source
    * rank<=k window pre-trims (WindowGroupLimit). One token
    * aggregate keyed by (source, word), one vocabulary-keyed rollup,
    * 1-row totals broadcast. */
  def distinctiveTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sw = tokens(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c_s"))
      .pinnedLazy
    val wTot = sw.groupBy(col("word")).agg(sum(col("c_s")).as("c_w"))
    val sTot = sw.groupBy(col("source")).agg(sum(col("c_s")).as("t_s"))
    val tot = sw.agg(sum(col("c_s")).as("t_all"))
    val scored = sw
      .join(wTot, Seq("word"))
      .join(sTot, Seq("source"))
      .crossJoin(broadcast(tot)) // 1-row scalar frame
      .withColumn("c_r", col("c_w") - col("c_s"))
      .withColumn("t_r", col("t_all") - col("t_s"))
      .where(expr("CAST(c_s AS DECIMAL(38,0)) * t_r" +
        " >= CAST(c_r + 1 AS DECIMAL(38,0)) * t_s"))
      .withColumn("score_q", (length(bin(expr(
        "CAST(CAST(c_s AS DECIMAL(38,0)) * t_r" +
          " div (CAST(c_r + 1 AS DECIMAL(38,0)) * t_s) AS BIGINT)")))
        - 1).cast("long"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_q").desc, col("c_s").desc, col("word").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("source"), col("rk"), col("word"), col("c_s"),
        col("c_r"), col("score_q"))
  }

  /** LM branching-factor card: for each bigram context, how many of
    * its most-frequent continuations cover >= `permille`/1000 of the
    * context's mass, histogrammed over contexts — the
    * concentration-of-continuations read (a corpus whose contexts
    * need few continuations is templated/repetitive; one that needs
    * many is genuinely diverse — the LM-shape complement of the
    * [[repetition]] doc-level signals). n_needed for a context is
    * the smallest k whose top-k cumulative count clears the
    * cross-multiplied threshold (exact integers, no division). Runs
    * over the MODEL table (vocabulary-squared worst case, never
    * corpus-sized); per-context windows order by (count desc, rhs) —
    * a hot context sorts its own continuations only. */
  def branchingCard(docs: DataFrame,
      permille: Int = 900): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1, 1000], got $permille")
    val lm = lmModelOf(docBigrams(docs)).pinnedLazy
    val ctx = lm.groupBy(col("lhs")).agg(sum(col("c_ab")).as("c_lhs"))
    val w = Window.partitionBy(col("lhs"))
      .orderBy(col("c_ab").desc, col("rhs").asc)
    val needed = lm.join(ctx, Seq("lhs"))
      .withColumn("cum", sum(col("c_ab")).over(w))
      .withColumn("rk", row_number().over(w)) // BEFORE the clear-filter
      .where(col("cum") * 1000 >= col("c_lhs") * permille)
      .groupBy(col("lhs")).agg(min(col("rk")).as("n_needed"))
    needed.groupBy(col("n_needed"))
      .agg(count(lit(1)).as("n_contexts"))
  }

  /** Cluster-topic labeling — the cross-family composition: k-means
    * cells over the EMBEDDING table ([[graft.operators.EmbeddingOps
    * .cellAssignments]], the same partition SemDeDup bounds its
    * candidates with) joined to the DOCUMENT table by id, then each
    * cell's [[distinctiveTerms]] — the human-readable answer to
    * "what IS cluster 7". Cells relabel as the stratum key; the term
    * machinery is reused verbatim, so the card inherits its exact
    * integer arithmetic and pre-trimmed per-cell top-k. */
  def clusterTopics(docs: DataFrame, emb: DataFrame,
      nCentroids: Int = EmbeddingOps.KmSeeds,
      iters: Int = EmbeddingOps.KmIters, k: Int = 5): DataFrame = {
    val cells = EmbeddingOps.cellAssignments(emb, nCentroids, iters)
    val relabeled = docs.select(col("doc_id"), col("text"))
      .join(cells.select(col("vec_id").as("doc_id"),
        concat(lit("c"), col("cell").cast("string")).as("source")),
        Seq("doc_id"))
    distinctiveTerms(relabeled, k).withColumnRenamed("source", "cell")
  }

  /** Intra-document quality localization: the W-bigram window with
    * the highest quantized LM negative log-likelihood per doc — WHERE
    * a document goes bad, not just that it does (the trim-the-span
    * upgrade over [[lmScore]]'s drop-the-doc gate: boilerplate
    * injections, encoding garbage, and spam inserts sit in localized
    * spans that doc-level averages dilute). Per-position bigram
    * scores come from one lead() window over the token stream joined
    * to the corpus LM (vocabulary-keyed, never broadcast); span sums
    * are a doc-keyed running window of exact integers; the per-doc
    * argmax pre-trims with rank=1. Docs with fewer than `w` scored
    * bigrams have no full window and drop. */
  def worstSpan(docs: DataFrame, w: Int = 10): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    val d = docs.pinnedLazy
    val lm = lmModelOf(docBigrams(d)).pinnedLazy
    val ctx = lm.groupBy(col("lhs")).agg(sum(col("c_ab")).as("c_lhs"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = tokens(d)
      .withColumn("rhs", lead(col("word"), 1).over(wd))
      .where(col("rhs").isNotNull)
      .select(col("doc_id"), col("pos"), col("word").as("lhs"),
        col("rhs"))
    val scored = big.join(lm, Seq("lhs", "rhs")).join(ctx, Seq("lhs"))
      .withColumn("q",
        (length(bin(expr("c_lhs div c_ab"))) - 1).cast("long"))
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    val sums = scored
      .withColumn("span_nll", sum(col("q")).over(ws))
      .withColumn("span_len", count(lit(1)).over(ws))
      .where(col("span_len") === w)
    val wr = Window.partitionBy(col("doc_id"))
      .orderBy(col("span_nll").desc, col("pos").asc)
    sums.withColumn("rk", row_number().over(wr))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("pos").as("span_start"),
        col("span_nll"))
  }

  /** Corpus-trained language identification: per-(lang, word) frequency
    * profiles from the labeled corpus, then per doc the argmax over
    * langs of dot(doc term counts, lang profile) / lang size. Integer
    * dot products + one division per (doc, lang) keep the argmax
    * deterministic; ties break on lang name.
    *
    * 100 TB shape: the corpus is tokenized ONCE into per-(doc, word)
    * counts (pinned (Stage.pinnedLazy) so the profile, lang-size, and scoring
    * branches reuse it instead of re-scanning); the profile is
    * vocab-sized — on a web-scale corpus that is billions of terms, so
    * it is NEVER broadcast: profile-vs-doc scoring is a shuffle hash
    * join on `word`. Only the langs-sized (cardinality ~languages)
    * lang-size frame is broadcast. */
  def langId(docs: DataFrame): DataFrame = {
    // one tokenization pass, lang label carried through (no join back)
    val docWc = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("c_dw"))
      .pinnedLazy
    val profile = docWc.groupBy(col("lang").as("cand_lang"), col("word"))
      .agg(sum(col("c_dw")).as("n_lw"))
    val langSize = docWc.groupBy(col("lang").as("cand_lang"))
      .agg(sum(col("c_dw")).as("n_l"))
    val scored = docWc
      .join(profile, Seq("word")) // vocab-sized: shuffle join, no hint
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(sum(col("c_dw") * col("n_lw")).as("dot"))
      .join(broadcast(langSize), Seq("cand_lang"))
      .withColumn("score", col("dot").cast("double") / col("n_l"))
    // argmax as a partial-aggregable min-struct instead of a window
    // rank (guide §2.3 — aggregate before you shuffle): min over
    // (-score, cand_lang) is exactly the (score desc, cand_lang asc)
    // total order (scores are >= 0 finite ratios, so negation mirrors
    // the ordering), with map-side combine and no per-doc sort.
    // INVARIANT (argmaxTerm's null-score rule): `score` is non-null
    // here BY CONSTRUCTION — dot comes from an inner join over
    // counts and n_l from the broadcast inner join — a null would
    // sort first under min and win; keep the joins inner.
    scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"),
        col("cand_lang").as("cl"))).as("m"))
      .select(col("doc_id"), col("lang"),
        col("m.cl").as("pred_lang"),
        (col("m.cl") === col("lang")).as("correct"))
  }

  /** Character-n-gram language ID — the classic n-gram-profile
    * heuristic (Cavnar & Trenkle, "N-gram-based text categorization",
    * 1994), trained on the labeled corpus like [[langId]] but over
    * character trigrams instead of words, so it works with no
    * tokenizer (CJK, agglutinative scripts). Same deterministic
    * scoring: integer profile dot / lang size, argmax with lang
    * tie-break. */
  def langIdNgram(docs: DataFrame, n: Int = 3): DataFrame = {
    // one n-gram pass, lang carried through; per-(doc, gram) counts
    // reused by the profile, lang-size, and scoring branches. The
    // trigram vocabulary is corpus-bounded, not charset-bounded (a CJK
    // corpus draws trigrams from a ~20k-ideograph alphabet — 10^8+
    // distinct grams), so the profile is shuffle-joined on `g` exactly
    // like langId's word profile; only the languages-cardinality
    // langSize frame is broadcast.
    val docGc = docs
      .select(col("doc_id"), col("lang"), split(col("text"), "").as("cs"))
      .where(size(col("cs")) >= n)
      .select(col("doc_id"), col("lang"), explode(expr(
        s"transform(sequence(1, size(cs) - ${n - 1}), " +
          s"i -> concat_ws('', slice(cs, i, $n)))")).as("g"))
      .groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("c_dg"))
      .pinnedLazy
    val profile = docGc.groupBy(col("lang").as("cand_lang"), col("g"))
      .agg(sum(col("c_dg")).as("n_lg"))
    val langSize = docGc.groupBy(col("lang").as("cand_lang"))
      .agg(sum(col("c_dg")).as("n_l"))
    // same min-struct argmax as [[langId]] — the (score desc,
    // cand_lang asc) order as a partial-aggregable min
    docGc
      .join(profile, Seq("g"))
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(sum(col("c_dg") * col("n_lg")).as("dot"))
      .join(broadcast(langSize), Seq("cand_lang"))
      .withColumn("score", col("dot").cast("double") / col("n_l"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"),
        col("cand_lang").as("cl"))).as("m"))
      .select(col("doc_id"), col("lang"),
        col("m.cl").as("pred_lang"),
        (col("m.cl") === col("lang")).as("correct"))
  }

  /** `docs` plus the derived quality columns (counts, exact-integer
    * ratios surfaced with one division, and the P3-style
    * first-match-wins tier) — the single definition [[quality]] and
    * [[qualityFilter]] both project from, so the tier rules cannot
    * drift between the score view and the filter. Keeps every input
    * column (notably `text`), all per-row. */
  private def qualityDerived(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, w => w.isin("the", "a"))).cast("long"))
      .withColumn("avg_token_len",
        (col("n_chars") - col("n_tokens") + 1).cast("double") /
          col("n_tokens"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("type_token_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("quality_tier",
        when(col("n_tokens") < 20, "too_short")
          .when(col("n_stopwords") * 4 > col("n_tokens"), "boilerplate")
          .when(col("n_distinct") * 5 < col("n_tokens"), "repetitive")
          .otherwise("ok"))
  }

  /** Text quality scoring: length, avg token length, stopword ratio,
    * type-token ratio — each an exact-integer ratio surfaced with one
    * division — plus a CASE quality tier (P3-style first-match-wins). */
  def quality(docs: DataFrame): DataFrame =
    qualityDerived(docs).select(
      col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
      col("n_distinct"), col("n_stopwords"), col("avg_token_len"),
      col("stopword_ratio"), col("type_token_ratio"),
      col("quality_tier"))

  /** Most distinctive term per document: argmax over the doc's terms
    * of tf/df (term frequency over corpus document frequency — the
    * rational core of tf-idf without the log, so the score is a single
    * exact division and cross-engine argmax order is deterministic;
    * tf*log(N/df) would hinge on last-ulp libm differences). */
  /** (doc_id, word, tf, df) — the shared scaffolding of the per-doc
    * term argmaxes ([[topTerm]], [[tfidfTopTerm]]). tf is
    * pinned (Stage.pinnedLazy) so the document-frequency branch and the
    * scoring join reuse one tokenization+shuffle. df_ is the FULL
    * corpus vocabulary — never broadcast (billions of terms at 100 TB);
    * tf JOIN df_ is a shuffle hash join on `word`, and tf is already
    * keyed by (doc_id, word) so only df_ redistributes. */
  private def tfDf(docs: DataFrame): DataFrame = {
    val tf = tokens(docs).groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .pinnedLazy
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tf.join(df_, Seq("word"))
  }

  /** The per-doc argmax over a scored [[tfDf]] frame: top-1 by
    * (score desc, word asc) — the total order both engines replay. */
  private def argmaxTerm(scored: DataFrame,
      out: Seq[org.apache.spark.sql.Column]): DataFrame = {
    // top-1 by (score desc, word asc) as a partial-aggregable
    // min-struct instead of a window rank (guide §2.3 — map-side
    // combine collapses each partition to one candidate per doc
    // before the exchange, and the per-doc sort disappears). Scores
    // are non-negative (a count ratio or an integer product), so
    // negation mirrors the desc order exactly; (doc_id, word) is
    // unique, so fields past `word` never decide the comparison.
    val rest = "word" +:
      scored.columns.filterNot(c => c == "doc_id" || c == "word")
    val fields = (-col("score")).as("__ns") +: rest.map(c => col(c).as(c))
    // null-score guard: under min(struct(-score, ..)) a NULL score
    // sorts FIRST (nulls-smallest in struct ordering) and would WIN,
    // where the window form it replaced (score desc NULLS LAST) put
    // such rows last. Every current caller produces non-null scores
    // via inner joins over counts, so this filter drops nothing — it
    // pins the invariant so a future left-joined caller cannot
    // silently crown a null-score row.
    scored.where(col("score").isNotNull)
      .groupBy(col("doc_id"))
      .agg(min(struct(fields: _*)).as("__m"))
      .select(col("doc_id") +: rest.map(c => col(s"__m.$c").as(c)): _*)
      .select(out: _*)
  }

  def topTerm(docs: DataFrame): DataFrame =
    argmaxTerm(
      tfDf(docs).withColumn("score",
        col("tf").cast("double") / col("df")),
      Seq(col("doc_id"), col("word").as("top_term"), col("tf"),
        col("df"), col("score")))

  /** Composed keep/drop quality gate — the Gopher-style rule stack a
    * curation pipeline actually applies: the [[quality]] tier, the
    * [[piiScan]] patterns, and a length cap, folded into one keep
    * boolean plus a comma-joined `reasons` audit column (concat_ws
    * skips the NULL branches identically in Spark and DuckDB, so the
    * reasons string is engine-portable without array comparators).
    * One per-row projection over the corpus — no shuffle, no joins —
    * and the tier/PII definitions are the shared ones, so the filter
    * can never disagree with the standalone score views. */
  def qualityFilter(docs: DataFrame, maxChars: Long = 100000L)
      : DataFrame =
    qualityFilterAll(docs, maxChars)
      .select(col("doc_id"), col("lang"), col("quality_tier"),
        col("n_pii"), col("n_chars"), col("keep"), col("reasons"))

  /** [[qualityFilter]] with every INPUT column preserved (notably
    * `text`) — the projection the curation chain filters in place:
    * the gate is one per-row boolean, so the chain keeps survivors
    * with a plain `where(keep)` instead of re-attaching text through
    * a doc_id self-join (guide §2.4 — the join and its exchanges are
    * removed outright). One definition of the rules for both. */
  private[operators] def qualityFilterAll(docs: DataFrame,
      maxChars: Long): DataFrame =
    qualityDerived(docs)
      .withColumn("n_pii",
        (size(regexp_extract_all(col("text"), lit(emailRe), lit(0))) +
          size(regexp_extract_all(col("text"), lit(digitRe), lit(0))))
          .cast("long"))
      .withColumn("reasons", concat_ws(",",
        when(col("quality_tier") =!= "ok", col("quality_tier")),
        when(col("n_pii") > 0, lit("pii")),
        when(col("n_chars") > maxChars, lit("too_long"))))
      .withColumn("keep", col("reasons") === "")

  /** The eight-word function-word list [[gopherRules]] checks for —
    * Gopher's "stop word" heuristic (Rae et al. 2021, A1.1: a page
    * must contain >= 2 of a small English function-word list; pages
    * without them are overwhelmingly menus, tag soup, or non-prose). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, appendix
    * A1.1), the rule-based filter battery nearly every LLM corpus
    * (MassiveText, RefinedWeb, Dolma) runs alongside model-based
    * scoring — distinct from [[qualityFilter]]'s tier/PII gate: these
    * are the published word-statistics rules, each surfaced as its own
    * flag so downstream can ablate rules individually (the data-card
    * use case) rather than get one opaque boolean.
    *
    * Rules (all exact integer arithmetic — the mean-word-length bound
    * is the cross-multiplied `lo*n_words <= n_wchars <= hi*n_words`,
    * never a float division): word count in [minWords, maxWords];
    * mean word length in [meanWlenLo, meanWlenHi]; >= minStops hits
    * from the [[GopherStops]] list. Defaults are tuned so every rule
    * is non-vacuous on the synthetic corpus (Gopher's own 50/100k/3-10
    * bounds would pass or fail ALL synthetic docs); the line-level
    * rules (bullet-start, ellipsis-end fractions) live with the
    * line-aware operators ([[extractHtml]]'s density filter,
    * [[dedupLines]]) because `documents.text` is single-line.
    *
    * Scale shape: pure per-row projection — no shuffle, no state;
    * fuses into whatever consumes it. */
  def gopherRules(docs: DataFrame, minWords: Long = 20L,
      maxWords: Long = 90L, meanWlenLo: Long = 4L, meanWlenHi: Long = 10L,
      minStops: Long = 2L): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"word bounds must satisfy 1 <= min <= max, got [$minWords, $maxWords]")
    require(meanWlenLo >= 1 && meanWlenHi >= meanWlenLo,
      "mean-word-length bounds must satisfy 1 <= lo <= hi, " +
        s"got [$meanWlenLo, $meanWlenHi]")
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_wchars",
        length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("n_stops",
        size(filter(col("w"), x => x.isin(GopherStops: _*))).cast("long"))
      .withColumn("r_min_words", col("n_words") >= minWords)
      .withColumn("r_max_words", col("n_words") <= maxWords)
      .withColumn("r_mean_wlen",
        col("n_wchars") >= lit(meanWlenLo) * col("n_words") &&
          col("n_wchars") <= lit(meanWlenHi) * col("n_words"))
      .withColumn("r_stops", col("n_stops") >= minStops)
      .select(col("doc_id"), col("n_words"), col("n_wchars"),
        col("n_stops"), col("r_min_words"), col("r_max_words"),
        col("r_mean_wlen"), col("r_stops"),
        (col("r_min_words") && col("r_max_words") &&
          col("r_mean_wlen") && col("r_stops")).as("keep"))
  }

  /** word2vec negative-sampling table (Mikolov et al. 2013 §2.2: draw
    * negatives ∝ count^(3/4) — flattening the unigram distribution so
    * frequent words don't monopolize the negatives): per word the
    * EXACT integer floor(c^(3/4)) via the [[mixTemperature]]
    * seed-and-correct trick (float POWER seeds g, the true root is
    * the largest t in g±2 with t^4 <= c^3 — both sides exact
    * DECIMAL(38,0) products, so a few-ulp libm difference between
    * engines cannot flip the value), and the word's draw probability
    * as exact parts-per-million of the whole vocabulary's mass. Top
    * `topV` rows by (count desc, word) via TakeOrderedAndProject.
    * Boundary: c^3 must fit DECIMAL(38,0) — per-word counts to
    * ~2.1e12, beyond any single word's share of a 100 TB corpus. */
  def negSamplingTable(docs: DataFrame, topV: Int = 50): DataFrame = {
    require(topV >= 1, s"topV must be >= 1, got $topV")
    val wc = tokens(docs).groupBy(col("word"))
      .agg(count(lit(1)).as("c"))
      .withColumn("g",
        expr("CAST(POWER(CAST(c AS DOUBLE), 0.75D) AS BIGINT)"))
      .withColumn("w34", expr(
        "array_max(filter(array(g - 2, g - 1, g, g + 1, g + 2), " +
          "t -> t >= 1 AND CAST(t AS DECIMAL(38,0)) * t * t * t" +
          " <= CAST(c AS DECIMAL(38,0)) * c * c))"))
      .pinnedLazy // total mass + the ranked output, one vocab pass
    val tot = wc.agg(sum(col("w34")).as("tot"))
    wc.crossJoin(broadcast(tot)) // 1-row scalar frame
      .select(col("word"), col("c"), col("w34"),
        expr("w34 * 1000000 div tot").as("ppm"))
      .orderBy(col("c").desc, col("word").asc)
      .limit(topV)
  }

  /** Token counting: whitespace tokens, regex word-ish tokens, and a
    * BPE-style length/4 estimate (integer ceil). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
        .cast("long").as("word_tokens"),
      expr("(length(text) + 3) div 4").cast("long").as("bpe_est_tokens"))

  /** Polynomial rolling hash (Rabin-Karp) over the document's
    * characters: h = fold(h*B + code(c)) mod P with B=131, P=2^31-1 —
    * pure integer arithmetic, identical in any engine with a list fold.
    * The per-prefix form of this hash is what a winnowing fingerprinter
    * slides over; the full-document value is a compact content id that,
    * unlike md5, can be updated incrementally when documents are
    * chunked.
    *
    * Portability boundary: the fold is defined over BMP code points.
    * Spark's ascii() returns 0 for supplementary-plane characters
    * (emoji etc.) where DuckDB returns the code point, so cross-engine
    * parity for this hash requires normalizing or stripping astral
    * characters upstream. ([[winnowing]] now hashes true code points
    * via the custom kgram_hashes expression, so it has no such
    * boundary beyond malformed lone surrogates.) */
  def rollingHash(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("aggregate(split(text, ''), 0L, " +
        "(acc, c) -> (acc * 131 + ascii(c)) % 2147483647)")
        .as("rolling_hash"),
      length(col("text")).cast("long").as("n_chars"))

  /** PII scan + redaction — the scrubbing pass a training-data
    * pipeline runs before anything else: count email-like and
    * long-digit-run (phone/id-like) matches per doc and produce the
    * redacted text (surfaced as its md5 so the gate row stays
    * compact). Patterns are deliberately conservative regex that
    * evaluates identically under Java regex and RE2 (no backrefs, no
    * lookaround), so the oracle matches byte-for-byte. Per-row
    * expressions — no shuffle, no state. */
  /** Conservative PII patterns shared by [[piiScan]] and
    * [[qualityFilter]]: identical under Java regex and RE2 (no
    * backrefs, no lookaround), so oracles match byte-for-byte. */
  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  private val digitRe = "[0-9][0-9 -]{6,}[0-9]"

  def piiScan(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(digitRe), lit(0)))
        .cast("long").as("n_digit_runs"),
      md5(regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"),
        digitRe, "<NUMBER>")).as("redacted_hash"))
  }

  /** Per-source corpus "data card" — the release artifact a training
    * pipeline publishes before a run (what went in, how much, how
    * diverse, how degenerate): document and token mass, language
    * diversity, length extremes, the short-document fraction. All
    * counts are exact integers; the mean is the single final IEEE
    * division and the short fraction is exact permille. One aggregate
    * pass keyed by source — output is sources-cardinality. */
  def corpusReport(docs: DataFrame, shortTokens: Int = 5): DataFrame =
    docs.select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(when(col("n_tokens") < shortTokens, 1L).otherwise(0L))
          .as("n_short"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_tokens"), col("total_chars"), col("min_tokens"),
        col("max_tokens"),
        (col("total_tokens").cast("double") / col("n_docs"))
          .as("avg_tokens"),
        expr("n_short * 1000 div n_docs").as("short_permille"))

  /** Exact per-language length quantiles (p50/p90/p99 of n_chars) via
    * rank selection: rank every doc within its language (total-order
    * tie-break on doc_id), pick the value at the integer quantile index
    * ceil(q*n) computed in EXACT integer arithmetic ((q_num*n + q_den-1
    * adjusted) div q_den) so both engines select the identical row —
    * a float ceil(0.9*n) could straddle an ulp. The distribution shape
    * of a training corpus (length percentiles per language) is a
    * routine curation query.
    *
    * Scale note: rank selection sorts within each language partition —
    * exact but shuffle-heavy at 100 TB; the production default is the
    * approx_percentile sketch (engine-specific estimates, hence no
    * oracle), with this exact form as the verification special case —
    * the same exact/sketch pairing as an_distinct_by_type vs
    * an_approx_distinct. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val ranked = docs.select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    ranked.join(counts, Seq("lang"))
      .groupBy(col("lang"), col("n_docs"))
      .agg(
        max(when(col("rn") === expr("(n_docs + 1) div 2"),
          col("n_chars"))).as("p50_chars"),
        max(when(col("rn") === expr("(9 * n_docs + 9) div 10"),
          col("n_chars"))).as("p90_chars"),
        max(when(col("rn") === expr("(99 * n_docs + 99) div 100"),
          col("n_chars"))).as("p99_chars"))
  }

  /** Vocabulary heavy hitters via the Misra-Gries / space-saving
    * frequent-items sketch (Spark's stat.freqItems) — the third
    * classic sketch next to approx-distinct (an_approx_distinct) and
    * approx-quantiles ([[lengthQuantilesApprox]]), and the scale
    * route to "which tokens dominate the corpus" without a full
    * vocabulary shuffle: one pass, per-partition counter maps of
    * bounded size 1/support merged associatively.
    *
    * The sketch's membership list over-approximates (false positives
    * allowed) but GUARANTEES every item with frequency > support*n is
    * present, so the driver-checked contract is that deterministic
    * half: every exact heavy hitter must appear in the sketch set.
    * Emits one row (n_tokens, n_true_hh, all_found); the oracle
    * recomputes the exact side and pins all_found = true. */
  def heavyHitters(docs: DataFrame, support: Double = 0.01): DataFrame = {
    val tok = docs.select(
      explode(split(col("text"), " ")).as("word"))
    val sketch = tok.stat.freqItems(Array("word"), support)
      .select(col("word_freqItems").as("sketch_set"))
    val tot = tok.agg(count(lit(1)).as("n_tokens"))
    val hh = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(tot)) // 1-row scalar frame
      .where(col("c") > lit(support) * col("n_tokens"))
    hh.crossJoin(broadcast(sketch)) // 1-row sketch frame
      .agg(count(lit(1)).as("n_true_hh"),
        coalesce(min(array_contains(col("sketch_set"), col("word"))),
          lit(true)).as("all_found"))
      .crossJoin(broadcast(tot)) // re-attach the scalar total
      .select(col("n_tokens"), col("n_true_hh"), col("all_found"))
  }

  /** Sketch-based per-language length quantiles — the production
    * default that [[lengthQuantiles]]'s scale note points to: one
    * percentile_approx (Greenwald-Khanna) pass over the corpus, no
    * per-language sort. The sketch's estimate is engine-specific, so
    * the driver-checked contract is the ERROR BOUND (the
    * an_approx_distinct pattern): percentile_approx guarantees the
    * returned value is a corpus element whose rank is near the target
    * rank (single-summary error eps = 1/accuracy), and the emitted
    * boolean verifies that — the returned value's rank interval
    * [r_lt+1, r_le] must intersect
    * [floor((p-slack)*n), ceil((p+slack)*n)] with slack = 2*eps: the
    * 2x absorbs merge-time error accumulation (Greenwald-Khanna
    * summaries merged across partitions bound looser than one
    * summary). The oracle recomputes (lang, pct, n_docs) and pins
    * within_bound = true.
    *
    * Scale shape: one sketch aggregation shuffle keyed lang, then the
    * languages-cardinality estimate frame is broadcast back for the
    * one-pass rank count — no sort, no per-language window. */
  def lengthQuantilesApprox(docs: DataFrame,
      accuracy: Int = 10000): DataFrame = {
    val pcts = Seq(0.5, 0.9, 0.99)
    val pctArr = array(pcts.map(lit): _*)
    val eps = 2.0 / accuracy // 2x single-summary error: merge slack
    val approx = docs.groupBy(col("lang"))
      .agg(percentile_approx(col("n_chars"), pctArr, lit(accuracy))
          .as("vs"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        posexplode(col("vs")).as(Seq("pi", "v")))
      .select(col("lang"), col("n_docs"),
        element_at(pctArr, col("pi") + 1).as("pct"), col("v"))
    docs.select(col("lang"), col("n_chars"))
      .join(broadcast(approx), Seq("lang"))
      .groupBy(col("lang"), col("n_docs"), col("pct"), col("v"))
      .agg(
        sum(when(col("n_chars") < col("v"), 1L).otherwise(0L)).as("r_lt"),
        sum(when(col("n_chars") <= col("v"), 1L).otherwise(0L)).as("r_le"))
      .select(col("lang"), col("pct"), col("n_docs"),
        ((col("r_lt") + 1 <=
            ceil((col("pct") + lit(eps)) * col("n_docs"))) &&
          (col("r_le") >=
            floor((col("pct") - lit(eps)) * col("n_docs"))))
          .as("within_bound"))
  }

  /** Per-document top tf-idf term. [[topTerm]] ranks by the pure
    * rational tf/df; this is the log-damped classic, made
    * cross-engine-deterministic by QUANTIZING the idf to
    * floor(log2(N div df)) — an exact integer in any engine
    * (the bit length of an integer division, no libm log whose last
    * ulp could flip an argmax). Score = tf * idf_q stays in exact
    * BIGINT arithmetic end to end; ties (score, then term) break by
    * total order.
    *
    * Scale shape is [[topTerm]]'s (the shared [[tfDf]]/[[argmaxTerm]]
    * scaffolding): ONE tokenization shuffle reused by both branches,
    * df shuffle-joined on `word` (the full vocabulary is never
    * broadcast), N as a 1-row broadcast scalar. */
  def tfidfTopTerm(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    argmaxTerm(
      tfDf(docs)
        .crossJoin(broadcast(n)) // 1-row scalar frame
        .withColumn("idf_q",
          (length(bin(expr("n_docs div df"))) - 1).cast("long"))
        .withColumn("score", col("tf") * col("idf_q")),
      Seq(col("doc_id"), col("word").as("top_term"), col("tf"),
        col("df"), col("idf_q"), col("score")))
  }

  /** Gopher-style repetition signals (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * §A.1.1): the repetition family of quality filters — a document
    * dominated by one repeated n-gram, or whose n-gram stream is mostly
    * repeats, is boilerplate/spam. Token-level because this corpus has
    * no line structure (the reference signals also include per-line
    * duplicates; lines here would be vacuous — every doc is one line).
    * Emitted per doc (>= 3 tokens, the shingle domain):
    *  - `top_bigram_frac`  = occurrences of the most frequent bigram /
    *    total bigrams (Gopher's "fraction in most common n-gram");
    *  - `dup_trigram_frac` = (total - distinct) trigrams / total
    *    (Gopher's "fraction in duplicate n-grams").
    * All counts are exact integers; each fraction is ONE final IEEE
    * division, so both engines emit bit-identical doubles.
    *
    * Scale shape: bigrams and trigrams are tagged and exploded in ONE
    * per-row pass, so the whole operator is a single (doc_id, tag,
    * gram) count shuffle (map-side combined) re-aggregated per doc
    * with conditional aggregates — half the shuffle volume of running
    * the two gram sizes as separate passes. Nothing is broadcast,
    * nothing is corpus-quadratic. */
  def repetition(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "concat(" +
          "transform(sequence(0, size(w) - 2), " +
          "  i -> struct(1 AS tag, concat_ws(' ', w[i], w[i+1]) AS g)), " +
          "transform(sequence(0, size(w) - 3), " +
          "  i -> struct(2 AS tag, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g))" +
          ")")).as("tg"))
      .select(col("doc_id"), col("tg.tag").as("tag"), col("tg.g").as("g"))
    grams.groupBy(col("doc_id"), col("tag"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("tag") === 1, col("c"))).as("n_bigrams"),
        max(when(col("tag") === 1, col("c"))).as("top_bigram_c"),
        sum(when(col("tag") === 2, col("c"))).as("n_trigrams"),
        count(when(col("tag") === 2, lit(1))).as("n_distinct_trigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_c"),
        (col("top_bigram_c").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"),
        col("n_trigrams"), col("n_distinct_trigrams"),
        ((col("n_trigrams") - col("n_distinct_trigrams")).cast("double")
          / col("n_trigrams")).as("dup_trigram_frac"))
  }

  /** WITHIN-document repeated-span removal — the excision counterpart
    * of the Gopher repetition SIGNALS ([[repetition]] measures; this
    * cleans): where [[dedupSpans]] excises runs duplicated ACROSS
    * documents, this excises runs a document repeats internally
    * (boilerplate stutter, templated spam, decoding loops). A k-token
    * window occurrence is redundant iff the same shingle occurs
    * earlier in the SAME document — the first occurrence keeps, every
    * later one excises (deterministic: min start position per
    * (doc, shingle) is the canonical copy). Output contract matches
    * [[dedupSpans]] (n_tokens, n_removed, n_segments, text_clean,
    * removed_frac), so the two excisions compose interchangeably.
    *
    * Scale shape: the window projection and the (doc, shingle) stats
    * aggregate are keyed by doc_id — rows never leave their
    * document's shard family, so unlike the cross-doc operator there
    * is no corpus-vocabulary frame at all. The shuffle key is the
    * 16-byte window digest plus doc_id ([[dedupSpans]]' payload
    * discipline); the rebuild groups per doc_id with a
    * document-bounded collect. */
  def cleanRepetition(docs: DataFrame, minTokens: Int = 3): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val k = minTokens
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val occ = w.where(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), i -> " +
          s"struct(i AS pos, " +
          s"unhex(md5(concat_ws(' ', slice(w, i + 1, $k)))) AS sh))"))
        .as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.sh").as("sh"))
    val stats = occ.groupBy(col("doc_id"), col("sh"))
      .agg(count(lit(1)).as("c"), min(col("pos")).as("min_pos"))
    val covered = occ.join(stats, Seq("doc_id", "sh"))
      .where(col("c") >= 2 && col("pos") =!= col("min_pos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
    // shared array rebuild with [[dedupSpans]] — covered positions
    // aggregate per doc, token text never rides an exchange
    exciseRebuild(docs, covered)
  }

  /** Collocation (phrase) detection by quantized PMI — the word2vec
    * phrase-merging step (Mikolov et al. 2013 §4: adjacent word pairs
    * whose joint count outruns their unigram product merge into
    * phrase tokens before training): score = floor(log2(c_ab * N /
    * (c_a * c_b))), the PMI with log2 quantized to a bit length so
    * the whole ranking is exact-integer. The c_ab*N product reaches
    * ~1e26 at corpus scale, far past Long — it runs in DECIMAL(38,0)
    * with `div` surfacing a BIGINT quotient (the mixTemperature
    * widening rule; the oracle mirrors with HUGEINT). Sub-1 ratios
    * (negative PMI) collapse to -1 — phrase picking only orders the
    * positive side. Top-K by (pmi_q desc, c_ab desc, pair) — a total
    * order.
    *
    * Scale shape: one bigram count shuffle + one unigram count
    * shuffle; the unigram table joins BY KEY twice (vocabulary-sized,
    * never broadcast); N is the one 1-row broadcast; top-K is
    * orderBy+limit (TakeOrdered), rank windows over K rows. */
  def phrasePmi(docs: DataFrame, minCount: Long = 3,
      topK: Int = 50): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val ab = docBigrams(docs)
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("k")).as("c_ab"))
    val uni = tokens(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("c_u"))
      .pinnedLazy // one count pass joins as BOTH the lhs and rhs side
    val n = uni.agg(sum(col("c_u")).as("n_tokens"))
    val top = ab.where(col("c_ab") >= minCount)
      .join(uni.select(col("word").as("lhs"), col("c_u").as("c_a")),
        Seq("lhs"))
      .join(uni.select(col("word").as("rhs"), col("c_u").as("c_b")),
        Seq("rhs"))
      .join(broadcast(n), lit(true))
      .withColumn("ratio", expr(
        "CAST(c_ab AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))" +
          " div (CAST(c_a AS DECIMAL(38,0)) * CAST(c_b AS DECIMAL(38,0)))"))
      .withColumn("pmi_q",
        when(col("ratio") >= 1, length(bin(col("ratio"))) - 1)
          .otherwise(lit(-1)).cast("long"))
      .orderBy(col("pmi_q").desc, col("c_ab").desc,
        col("lhs").asc, col("rhs").asc)
      .limit(topK)
    val w = Window.orderBy(col("pmi_q").desc, col("c_ab").desc,
      col("lhs").asc, col("rhs").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("lhs"), col("rhs"), col("c_ab"),
        col("pmi_q"))
  }

  /** Long-document chunking with overlap — the step that turns a
    * curated corpus into model-window-sized pieces (embedding
    * pipelines, RAG indexing, long-doc training): fixed `maxTokens`
    * windows starting every `stride` tokens (overlap = maxTokens -
    * stride preserves context across boundaries), the last window
    * shortened to the document end. Emits (doc_id, chunk_id,
    * start_tok, n_chunk_tokens, chunk_hash) — the hash pins each
    * chunk's exact content for the oracle without shipping the text
    * twice. Pure per-row arithmetic + explode: no shuffle at all, the
    * embarrassingly-parallel shape chunking should have at 100 TB. */
  def chunk(docs: DataFrame, maxTokens: Int = 512,
      stride: Int = 256): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(stride > 0 && stride <= maxTokens,
      s"stride must be in [1, maxTokens], got $stride")
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n"))
      .withColumn("n_chunks",
        lit(1L) + when(col("n") > maxTokens,
          expr(s"(n - $maxTokens + $stride - 1) div $stride"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("w"), col("n"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(maxTokens.toLong), col("n") - col("chunk_id") * stride)
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", expr(
          s"slice(w, cast(chunk_id * $stride + 1 as int), " +
            s"cast(least($maxTokens, n - chunk_id * $stride) as int))")))
          .as("chunk_hash"))
  }

  /** Document fingerprints: full-content md5, head/tail block hashes,
    * and the min-shingle hash (a 1-hash MinHash — the winnowing-style
    * content anchor). */
  def fingerprint(docs: DataFrame): DataFrame = {
    // raw shingles: min() is duplicate-invariant, no distinct shuffle
    val minShingle = shinglesRaw(docs).groupBy(col("doc_id"))
      .agg(min(md5(col("s"))).as("min_shingle_hash"))
    docs.select(
        col("doc_id"),
        md5(col("text")).as("content_hash"),
        md5(substring(col("text"), 1, 64)).as("head_hash"),
        md5(reverse(substring(reverse(col("text")), 1, 64))).as("tail_hash"))
      .join(minShingle, Seq("doc_id"), "left")
  }
}
