package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer training and application (frequency vocab, iterated
  * BPE, unigram-LM Viterbi-EM) — the tokenizer family of
  * [[TextOps]]. Split from the single object purely mechanically. */
private[graft] trait TextTokenizerOps { this: TextOps.type =>

  /** Tokenizer-vocabulary build with document-frequency pruning — the
    * first step of training any tokenizer/featurizer on a curated
    * corpus: global term and document frequencies, pruned by min-df
    * (hapax/noise floor) and max-df (corpus-stopword ceiling, as the
    * exact integer cross-multiplication df*den <= n_docs*num — no
    * float threshold), ranked by (tf desc, word asc) and cut to the
    * top `topK`.
    *
    * Scale shape: ONE tokenization shuffle into the (word -> tf, df)
    * aggregate — df is max one count per (doc, word), folded in the
    * same pass via count(distinct)-free two-level aggregation; the
    * top-K cut is orderBy+limit (TakeOrdered: per-partition heaps, K
    * rows to the driver — no global sort); the final dense rank is a
    * window over the ALREADY-CUT K rows, bounded by the constant topK,
    * not the corpus. */
  def vocabBuild(docs: DataFrame, minDf: Long = 2,
      maxDfNum: Long = 1, maxDfDen: Long = 2,
      topK: Int = 1000): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfNum >= 0 && maxDfDen > 0,
      s"max-df fraction must be a valid ratio, got $maxDfNum/$maxDfDen")
    require(topK > 0, s"topK must be positive, got $topK")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val wordStats = tokens(docs)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c_dw"))
      .groupBy(col("word"))
      .agg(sum(col("c_dw")).as("tf"), count(lit(1)).as("df"))
    val pruned = wordStats
      .crossJoin(broadcast(n)) // 1-row scalar frame
      .where(col("df") >= minDf &&
        col("df") * maxDfDen <= col("n_docs") * maxDfNum)
    val top = pruned.orderBy(col("tf").desc, col("word").asc).limit(topK)
    // K rows by construction — the unpartitioned window is bounded
    val w = Window.orderBy(col("tf").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("word"), col("tf"), col("df"))
  }

  /** Vocabulary id-encoding — the terminal EXPORT step of a curation
    * run: every token maps to its [[vocabBuild]] rank (the id a
    * training loader consumes), out-of-vocabulary tokens to 0, and
    * each document emits its exact id SEQUENCE pinned by an md5 of
    * the comma-joined ids (the [[chunk]] discipline — content pinned
    * without shipping the arrays twice) plus token/OOV counts.
    *
    * Scale shape: the id map is AT MOST `topK` rows BY CONSTRUCTION
    * (the [[vocabBuild]] cut), so it broadcasts legitimately — the
    * codebook rule, not the vocabulary rule; the corpus is touched by
    * one token projection and one per-doc fold whose collect is
    * bounded by a single document's length. */
  def vocabEncode(docs: DataFrame, minDf: Long = 2,
      maxDfNum: Long = 1, maxDfDen: Long = 2,
      topK: Int = 1000): DataFrame = {
    val ids = vocabBuild(docs, minDf, maxDfNum, maxDfDen, topK)
      .select(col("word"), col("rank").as("id"))
    tokens(docs)
      .join(broadcast(ids), Seq("word"), "left") // <= topK rows
      .select(col("doc_id"), col("pos"),
        coalesce(col("id"), lit(0L)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",", expr(
          "transform(sort_array(collect_list(struct(pos, id))), " +
            "x -> CAST(x.id AS STRING))")))
          .as("ids_hash"))
  }

  /** Detokenization round trip — the export sanity check every
    * tokenizer deployment ships (encode -> decode must reproduce the
    * text wherever the vocabulary covers it): re-encode each doc
    * against the built vocabulary, then decode the ID SEQUENCE ALONE
    * back to words (the original word never rides along — id 0, the
    * OOV lane, decodes to '<unk>'), reassembling in position order.
    * Both vocabulary joins are against the <= topK-row id table —
    * bounded BY CONSTRUCTION, broadcast-safe at any corpus size. */
  def vocabDecode(docs: DataFrame, minDf: Long = 2,
      maxDfNum: Long = 1, maxDfDen: Long = 2,
      topK: Int = 1000): DataFrame = {
    val ids = vocabBuild(docs, minDf, maxDfNum, maxDfDen, topK)
      .select(col("word"), col("rank").as("id"))
    val enc = tokens(docs)
      .join(broadcast(ids), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("id"), lit(0L)).as("id"))
    enc.join(broadcast(ids.select(col("id"), col("word").as("w"))),
        Seq("id"), "left")
      .select(col("doc_id"), col("pos"), col("id"),
        coalesce(col("w"), lit("<unk>")).as("out_word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, out_word))), " +
            "x -> x.out_word)")).as("text_decoded"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        col("text_decoded"), (col("n_oov") === 0L).as("lossless"))
  }

  /** BPE-style pair statistics — one counting round of byte-pair
    * encoding (Sennrich, Haddow & Birch, "Neural Machine Translation
    * of Rare Words with Subword Units", 2016): count adjacent
    * character pairs WITHIN word occurrences across the corpus; the
    * most frequent pair is the round's merge candidate, and the top-K
    * frame is the merge table a tokenizer trainer would consume.
    * Exact integer counts with a (count desc, pair asc) total order.
    *
    * Scale shape: per-row explode to (pair) then one map-side-combined
    * count shuffle over the pair vocabulary (charset², bounded but
    * treated as corpus-sized: shuffled, never broadcast); top-K by
    * orderBy+limit (TakeOrdered), rank over the cut K rows only. */
  def bpePairStats(docs: DataFrame, topK: Int = 20): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val pairs = tokens(docs)
      .select(split(col("word"), "").as("cs"))
      .where(size(col("cs")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(cs) - 1), " +
          "i -> concat_ws('', slice(cs, i, 2)))")).as("pair"))
    val top = pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("pair").asc).limit(topK)
    val w = Window.orderBy(col("n_pairs").desc, col("pair").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("pair"), col("n_pairs"))
  }

  /** ITERATED BPE merge trainer — the closed training loop
    * [[bpePairStats]] is one round of (Sennrich, Haddow & Birch 2016:
    * count pairs -> take the most frequent -> merge it everywhere ->
    * recount). Returns the learned merge table: one row per round
    * (merge_round, lhs, rhs, merged, n_pairs), the artifact a
    * tokenizer consumes, with the canonical (count desc, lhs asc,
    * rhs asc) total order deciding each round's winner.
    *
    * Representation: the trainer works the DISTINCT word-frequency
    * table, not word occurrences (Heaps' law: the vocabulary is
    * orders of magnitude smaller than a 100 TB corpus — the classic
    * trainer efficiency), each word held as its symbol sequence with
    * every symbol wrapped `SEP sym SEP`. Adjacent-pair patterns
    * (`SEP l SEP SEP r SEP`) then share no characters, so plain
    * non-overlapping left-to-right string replace applies a merge
    * exactly like canonical BPE does on the symbol list — including
    * runs: [a,a,a,a] -> [aa,aa], not [aa,a,a]. (With a single shared
    * separator the first replacement would consume the boundary and
    * skip the second pair.)
    *
    * Scale shape: per round, ONE map-side-combined pair-count shuffle
    * over the vocabulary, a TakeOrdered top-1, and a per-row codegen'd
    * replace; only the single winning pair crosses to the driver each
    * round (the same driver-sees-one-row loop discipline as the
    * k-means trainer in EmbeddingOps). The working table is
    * pinned (Stage.pinnedLazy) every round so lineage stays bounded across
    * iterations.
    *
    * CONVERGENCE: training stops before `rounds` when no pair remains
    * OR the best remaining pair's count falls below `minCount` — the
    * frequency floor real tokenizer trainers use (Sennrich 2016 §3
    * trains "until the vocabulary reaches a target size OR no pair
    * occurs more than the threshold"); `rounds` IS the target-vocab
    * form of the same stop (vocab = base charset + one symbol per
    * merge). The floor is a valid STOP (not just a filter) because
    * round winners are monotone non-increasing: merging the max-count
    * pair can only create pairs whose occurrences each contain an
    * occurrence of the merged symbol, so no later round can beat the
    * count that stopped this one. That monotone law is spec-pinned,
    * and the `text_bpe_converged` oracle leans on it (replay all
    * rounds, keep those at or above the floor). */
  def bpeMerges(docs: DataFrame, rounds: Int = 5,
      minCount: Long = 1L): DataFrame = {
    require(rounds >= 1 && rounds <= 100,
      s"rounds must be in [1, 100], got $rounds")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val records = bpeTrain(docs, rounds, minCount)._2
    val s = docs.sparkSession
    import s.implicits._
    records.toDF("merge_round", "lhs", "rhs", "merged", "n_pairs")
  }

  /** Tokenize the corpus WITH the trained merges — the consumer side
    * of [[bpeMerges]]: every word collapses to its final subword
    * segmentation after `rounds` merges, and each document reports its
    * resulting token count (the number a training pipeline budgets
    * sequence packing and cost by). 1-char words (below the trainer's
    * pair floor) count as one token each.
    *
    * Scale shape: the per-word segmentation is vocabulary-sized; the
    * corpus joins to it once on the word key (a keyed shuffle join —
    * at 100 TB the vocabulary is NOT broadcast-safe), then one
    * per-doc count shuffle. */
  def bpeEncode(docs: DataFrame, rounds: Int = 5,
      minCount: Long = 1L): DataFrame = {
    require(rounds >= 1 && rounds <= 100,
      s"rounds must be in [1, 100], got $rounds")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val seqs = bpeTrain(docs, rounds, minCount)._1
    // m symbols -> split produces 2m+1 elements; (2m+1-1)/2.0 = m is
    // exact in double for any real vocabulary
    val perWord = seqs.select(col("word"),
      ((size(split(col("seq"), BpeSep)) - lit(1)) / lit(2))
        .cast("long").as("n_tok"))
    tokens(docs)
      .join(perWord, Seq("word"), "left")
      .select(col("doc_id"),
        when(length(col("word")) >= 2 && !col("word").contains(BpeSep),
          col("n_tok"))
          .when(length(col("word")) === 1, lit(1L))
          .otherwise(lit(0L)).as("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tok")).as("n_bpe_tokens"))
  }

  /** Tokenizer-fertility data card — the measurement that chooses
    * between tokenizers (and their merge budgets): per source, words
    * vs the BPE tokens they encode to ([[bpeEncode]]), as exact
    * permilles — fertility (tokens per 1000 words: lower = the
    * vocabulary compresses this source better) and chars per 1000
    * tokens (the compute cost of a character of this source). A
    * multilingual mix is priced per source exactly this way before
    * fixing sampling temperatures. One doc-keyed join of the encode
    * output, one per-source aggregate. */
  def tokenizerFertility(docs: DataFrame, rounds: Int = 5): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long")
          .as("n_wchars"))
      .join(bpeEncode(docs, rounds), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("total_words"),
        sum(col("n_wchars")).as("total_wchars"),
        sum(col("n_bpe_tokens")).as("total_tokens"))
      .select(col("source"), col("total_words"), col("total_wchars"),
        col("total_tokens"),
        expr("total_tokens * 1000 div total_words")
          .as("fertility_permille"),
        expr("total_wchars * 1000 div total_tokens")
          .as("chars_per_token_permille"))

  /** Unit separator framing the BPE symbol sequences — never present
    * in whitespace-tokenized text. */
  private val BpeSep = "\u001F"

  /** The shared trainer loop behind [[bpeMerges]] (wants the merge
    * records) and [[bpeEncode]] (wants the final per-word
    * segmentations): returns the final (word, seq, n) frame and the
    * per-round merge records. */
  private def bpeTrain(docs: DataFrame, rounds: Int,
      minCount: Long)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    val sep = BpeSep
    // 1-char words can never pair and never change: drop them up
    // front. Words containing the separator would corrupt the framing
    // (none exist in whitespace-tokenized text, but stay defensive).
    val wf = tokens(docs)
      .where(length(col("word")) >= 2 && !col("word").contains(sep))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    var seqs = wf.select(col("word"),
        concat_ws("", transform(split(col("word"), ""),
          c => concat(lit(sep), c, lit(sep)))).as("seq"),
        col("n"))
      .pinnedLazy
    val records = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // split on SEP yields ["", s1, "", "", s2, "", ..., sm, ""] —
      // symbols sit at 1-based even indices 2i, so pair i is
      // (cs[2i], cs[2i+2]) for i in 1..m-1
      val top = seqs
        .select(split(col("seq"), sep).as("cs"), col("n"))
        .where(size(col("cs")) >= 5) // at least 2 symbols
        .select(explode(expr(
          "transform(sequence(1, (size(cs) - 1) div 2 - 1), " +
            "i -> struct(element_at(cs, cast(2*i AS int)) AS lhs, " +
            "element_at(cs, cast(2*i + 2 AS int)) AS rhs))")).as("p"),
          col("n"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("n")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .collect()
      // stop on a dry vocabulary OR a winner below the frequency
      // floor — by the monotone law no later round could clear it
      if (top.isEmpty || top(0).getLong(2) < minCount) exhausted = true
      else {
        val (l, rr, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        records += ((r.toLong, l, rr, l + rr, n))
        val pat = sep + l + sep + sep + rr + sep
        val rep = sep + l + rr + sep
        seqs = seqs.select(col("word"),
            call_function("replace", col("seq"), lit(pat), lit(rep))
              .as("seq"), col("n"))
          .pinnedLazy
        r += 1
      }
    }
    (seqs, records.result())
  }

  /** Max subword-piece length for the unigram-LM trainer (SentencePiece
    * `max_sentencepiece_length` analog, kept small so the candidate
    * edge set per word is O(len * L)). */
  val UnigramMaxPieceLen = 4

  /** Words longer than this fall back to single-char segmentation
    * instead of entering the DP (bounds the oracle's unrolled replay
    * AND the per-row DP arrays; SentencePiece similarly caps sentence
    * length). Shared with the SuiteML oracle generator. */
  val UnigramMaxWordLen = 16

  /** Unigram-LM (SentencePiece-style) tokenizer trainer — the
    * tokenizer the mT5/XLM-R recipes ([[mixTemperature]]) actually
    * pair with (Kudo 2018, "Subword Regularization"): a vocabulary of
    * variable-length pieces with per-piece costs, fit by EM over the
    * word-frequency table and served by min-cost (Viterbi)
    * segmentation. This rendering is the DETERMINISTIC hard-EM
    * (Viterbi-EM) variant in exact integer arithmetic, so the whole
    * training loop replays bit-identically in DuckDB:
    *
    *  - piece costs quantize to `floor(log2(tot div c))` — the
    *    bit-length of an integer division (the [[lmScore]] trick), so
    *    segmentation scores are exact BIGINT sums;
    *  - the E-step segments each DISTINCT word (Heaps' law — the
    *    [[bpeMerges]] representation) by DP over its candidate piece
    *    edges, tie-broken canonically (smallest last-piece length),
    *    and counts piece usage weighted by word frequency;
    *  - the M-step keeps ALL single chars (coverage guarantee) plus
    *    the top `vocabSize` multi-char pieces by (usage desc, piece
    *    asc), re-deriving costs with add-one smoothing;
    *  - seed counts are frequency-weighted substring occurrences
    *    (length <= `maxPieceLen`), the standard seed-vocab heuristic.
    *
    * Scale shape per round: one per-row edge projection over the
    * VOCABULARY (not the corpus), one keyed-shuffle join piece->cost
    * (the [[bpeEncode]] rule — a vocabulary-sized frame is never
    * broadcast), one per-word bounded-array DP (pure projection: the
    * edge array is <= len*L entries), one piece-count shuffle, one
    * TakeOrdered prune. The driver only steers the round loop — no
    * row ever crosses to it (tighter than BPE, whose winner does). */
  def unigramVocab(docs: DataFrame,
      maxPieceLen: Int = UnigramMaxPieceLen, vocabSize: Int = 32,
      rounds: Int = 2): DataFrame = {
    val vocab = unigramTrain(docs, maxPieceLen, vocabSize, rounds)
    // bounded window: |vocab| <= vocabSize + |charset| by construction
    val w = Window.orderBy(col("c").desc, col("piece").asc)
    vocab.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("piece"), col("c"), col("cost_q"))
  }

  /** Tokenize the corpus WITH the trained unigram vocabulary — the
    * consumer side of [[unigramVocab]]: every distinct word segments
    * once by min-cost DP (its total cost is the word's quantized NLL
    * under the piece LM — `best[len]`, no re-summation), long words
    * fall back to chars, and each document reports its piece count
    * and exact NLL sum with ONE final IEEE division for the average.
    * Scale shape: the per-word segmentation table is vocabulary-sized
    * and joins the corpus token stream by keyed shuffle on the word
    * ([[bpeEncode]]'s rule), then one per-doc sum shuffle. */
  def unigramEncode(docs: DataFrame,
      maxPieceLen: Int = UnigramMaxPieceLen, vocabSize: Int = 32,
      rounds: Int = 2): DataFrame = {
    val vocab = unigramTrain(docs, maxPieceLen, vocabSize, rounds)
    val wf = unigramWordFreq(docs).pinnedLazy
    val shortSeg = unigramSegments(
      wf.where(length(col("word")) <= UnigramMaxWordLen), vocab,
      maxPieceLen)
      .select(col("word"), size(col("pieces")).cast("long").as("np"),
        element_at(col("best"), length(col("word")) + 1).as("nll"))
    val longSeg = wf.where(length(col("word")) > UnigramMaxWordLen)
      .select(col("word"), explode(split(col("word"), "")).as("piece"))
      .join(vocab.select(col("piece"), col("cost_q")), Seq("piece"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("np"), sum(col("cost_q")).as("nll"))
    val perWord = shortSeg.unionByName(longSeg)
    tokens(docs)
      .join(perWord, Seq("word")) // keyed shuffle; every token matches
      .groupBy(col("doc_id"))
      .agg(sum(col("np")).as("n_pieces"), sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("n_pieces"), col("nll_sum"),
        (col("nll_sum").cast("double") / col("n_pieces")).as("avg_nll"))
  }

  /** (word, n) frequency table over whitespace tokens — the shared
    * working set of the unigram trainer (every word, long or short,
    * contributes seed substrings and char usage). */
  private def unigramWordFreq(docs: DataFrame): DataFrame =
    tokens(docs).groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Min-cost segmentation of each word against a (piece, cost_q)
    * vocabulary: candidate edges (ending position i, length l) inner-
    * join the vocabulary (single-char coverage guarantees a path),
    * collect into a bounded per-word array, then one per-row fold
    * computes the DP costs, the canonical choices (smallest l among
    * cost-optimal edges at each position), and the backtraced pieces.
    * Returns (word, n, edges, best, pieces) — pure projection after
    * the one keyed vocab join. */
  private def unigramSegments(wfs: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val edges = wfs.select(col("word"))
      .select(col("word"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(1, least($maxPieceLen, i)), l -> " +
          "struct(i AS i, l AS l, " +
          "substring(word, i - l + 1, l) AS piece))))")).as("e"))
      .select(col("word"), col("e.i").as("i"), col("e.l").as("l"),
        col("e.piece").as("piece"))
      .join(vocab.select(col("piece"), col("cost_q")), Seq("piece"))
      .groupBy(col("word"))
      .agg(sort_array(collect_list(
        struct(col("i"), col("l"), col("cost_q")))).as("edges"))
    wfs.join(edges, Seq("word"))
      // best[i] (1-based slot i+1) = min cost to segment word[1..i]
      .withColumn("best", expr(
        "aggregate(sequence(1, length(word)), array(0L), (acc, i) -> " +
          "concat(acc, array(array_min(transform(" +
          "filter(edges, e -> e.i = i), " +
          "e -> element_at(acc, e.i - e.l + 1) + e.cost_q)))))"))
      // canonical tie-break: smallest piece length among optimal edges
      .withColumn("choice", expr(
        "transform(sequence(1, length(word)), i -> " +
          "array_min(transform(filter(edges, e -> e.i = i AND " +
          "element_at(best, e.i - e.l + 1) + e.cost_q = " +
          "element_at(best, e.i + 1)), e -> e.l)))"))
      // backtrace: at most len steps; emitted back-to-front (order is
      // irrelevant to usage counting and piece totals)
      .withColumn("pieces", expr(
        "aggregate(sequence(1, length(word)), " +
          "named_struct('pos', length(word), " +
          "'ps', CAST(array() AS array<string>)), " +
          "(st, x) -> IF(st.pos > 0, named_struct(" +
          "'pos', st.pos - element_at(choice, st.pos), " +
          "'ps', concat(st.ps, array(substring(word, " +
          "st.pos - element_at(choice, st.pos) + 1, " +
          "element_at(choice, st.pos))))), st), st -> st.ps)"))
  }

  /** The shared trainer loop behind [[unigramVocab]]/[[unigramEncode]]:
    * returns the final (piece, c, cost_q) vocabulary, pinned. */
  private def unigramTrain(docs: DataFrame, maxPieceLen: Int,
      vocabSize: Int, rounds: Int): DataFrame = {
    require(maxPieceLen >= 2 && maxPieceLen <= 8,
      s"maxPieceLen must be in [2, 8], got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(rounds >= 1 && rounds <= 10,
      s"rounds must be in [1, 10], got $rounds")
    val wf = unigramWordFreq(docs).pinnedLazy
    val wfs = wf.where(length(col("word")) <= UnigramMaxWordLen)
    val wfl = wf.where(length(col("word")) > UnigramMaxWordLen)
    // seed: frequency-weighted substring occurrence counts (all words)
    val sub = wf.select(col("word"), col("n"))
      .select(explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(1, least($maxPieceLen, i)), l -> " +
          "substring(word, i - l + 1, l))))")).as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("c"))
      .pinnedLazy
    val singlesSet = sub.where(length(col("piece")) === 1)
      .select(col("piece")).pinnedLazy
    def withCosts(v: DataFrame): DataFrame = {
      val tot = v.agg(sum(col("c")).as("tot")) // 1-row scalar
      v.crossJoin(broadcast(tot))
        .select(col("piece"), col("c"),
          (length(bin(expr("tot div c"))) - 1).cast("long").as("cost_q"))
        .pinnedLazy
    }
    var vocab = withCosts(
      sub.where(length(col("piece")) === 1)
        .unionByName(sub.where(length(col("piece")) >= 2)
          .orderBy(col("c").desc, col("piece").asc).limit(vocabSize)))
    for (_ <- 1 to rounds) {
      val usageShort =
        unigramSegments(wfs, vocab, maxPieceLen)
          .select(explode(col("pieces")).as("piece"), col("n"))
      val usageLong = wfl
        .select(explode(split(col("word"), "")).as("piece"), col("n"))
      val usage = usageShort.unionByName(usageLong)
        .groupBy(col("piece")).agg(sum(col("n")).as("u"))
        .pinnedLazy
      val newSingles = singlesSet
        .join(usage, Seq("piece"), "left")
        .select(col("piece"),
          (coalesce(col("u"), lit(0L)) + 1L).as("c"))
      val newMultis = usage
        .where(length(col("piece")) >= 2 && col("u") >= 1L)
        .orderBy(col("u").desc, col("piece").asc).limit(vocabSize)
        .select(col("piece"), (col("u") + 1L).as("c"))
      vocab = withCosts(newSingles.unionByName(newMultis))
    }
    vocab
  }
}
