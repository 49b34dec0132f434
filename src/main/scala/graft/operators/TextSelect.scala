package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based data SELECTION (corpus LM / stupid-backoff scoring,
  * DSIR, Naive Bayes, rank fusion, splits, sampling, mixing) — the
  * choose-what-to-train-on family of [[TextOps]]. Split from the
  * single object purely mechanically. */
private[graft] trait TextSelectOps { this: TextOps.type =>

  /** Token-budget greedy selection — "keep the best documents until
    * the training budget is spent", the budgeted form of CCNet-style
    * quality selection: documents order by (score asc, doc_id) —
    * lower score = better, e.g. an LM [[lmScore]] avg_nll — and a doc
    * is kept iff the corpus-wide running token total THROUGH it stays
    * within `budget`. The exact global prefix sum runs without a
    * single-partition window via the [[pplBuckets]] order-aligned
    * shard trick: docs shard by floor(score*granularity) (monotone in
    * score, so shard order refines score order), per-shard token
    * masses cumulate over the shard-cardinality counts frame, and
    * each doc adds its within-shard running sum to its shard's
    * offset. Input is any (doc_id, score, n_tokens) frame; output
    * adds (cum_tokens, kept). */
  def budgetSelect(scored: DataFrame, budget: Long,
      granularity: Int = 8): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(granularity >= 1,
      s"granularity must be >= 1, got $granularity")
    val sh = scored.withColumn("shard",
      floor(col("score") * granularity).cast("long")).pinnedLazy
    val counts = sh.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("tok"))
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = counts.withColumn("offset",
      coalesce(sum(col("tok")).over(wOff), lit(0L)))
      .select(col("shard"), col("offset"))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("score"), col("doc_id"))
    sh.join(broadcast(off), Seq("shard"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(wIn) + col("offset"))
      .withColumn("kept", col("cum_tokens") <= budget)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
  }

  /** Exact global rank (1-based, ascending `score` with doc_id
    * tie-break) without a corpus-wide single-partition sort — the
    * [[pplBuckets]] order-aligned shard trick as a reusable step:
    * shard by floor(score*granularity) (monotone, so shard order
    * refines score order), ranks compose from the shard-cardinality
    * offset frame + a per-shard window. */
  private def rankBy(df: DataFrame, score: Column, granularity: Int,
      rankName: String): DataFrame = {
    val sh = df.withColumn("_rs", score)
      .withColumn("_shard", floor(col("_rs") * granularity).cast("long"))
      .pinnedLazy
    val counts = sh.groupBy(col("_shard")).agg(count(lit(1)).as("cnt"))
    val wOff = Window.orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = counts.withColumn("_off",
      coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("_shard"), col("_off"))
    val wIn = Window.partitionBy(col("_shard"))
      .orderBy(col("_rs"), col("doc_id"))
    sh.join(broadcast(off), Seq("_shard"))
      .withColumn(rankName,
        row_number().over(wIn).cast("long") + col("_off"))
      .drop("_rs", "_shard", "_off")
  }

  /** Per-source percentile normalization of a quality score — the
    * calibration step before a GLOBAL quality cut over heterogeneous
    * feeds (a raw perplexity threshold keeps easy-language sources
    * wholesale and guts hard ones; the percentile within each source
    * is comparable across them). Input (doc_id, source, score);
    * output adds the exact within-source rank, the source size, and
    * pct_permille = (rank-1)*1000 div max(n-1, 1) in [0, 1000]. The
    * [[rankBy]] shard trick generalized to a composite key: shards
    * are (source, floor(score*granularity)), offsets cumulate per
    * source over the shard-cardinality counts frame, ranks compose
    * per (source, shard) window — no source ever sorts in one
    * task. */
  def scorePercentile(scored: DataFrame,
      granularity: Int = 8): DataFrame = {
    require(granularity >= 1,
      s"granularity must be >= 1, got $granularity")
    val sh = scored.withColumn("_shard",
      floor(col("score") * granularity).cast("long")).pinnedLazy
    val counts = sh.groupBy(col("source"), col("_shard"))
      .agg(count(lit(1)).as("cnt")).pinnedLazy
    val wOff = Window.partitionBy(col("source")).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = counts.withColumn("_off",
      coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("source"), col("_shard"), col("_off"))
    val nTot = counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_src"))
    val wIn = Window.partitionBy(col("source"), col("_shard"))
      .orderBy(col("score"), col("doc_id"))
    sh.join(broadcast(off), Seq("source", "_shard"))
      .join(broadcast(nTot), Seq("source"))
      .withColumn("src_rank",
        row_number().over(wIn).cast("long") + col("_off"))
      .withColumn("pct_permille",
        expr("(src_rank - 1) * 1000 div greatest(n_src - 1, 1)"))
      .select(col("doc_id"), col("source"), col("score"),
        col("src_rank"), col("n_src"), col("pct_permille"))
  }

  /** Borda rank fusion of two independent quality signals — the
    * ensemble selection pattern (QuRating-style raters, CCNet
    * perplexity + DSIR target-similarity here): each doc gets its
    * exact global rank under the LM score (ascending — lower
    * perplexity is better) and under the DSIR importance weight
    * (descending — more target-like is better), and the fused
    * ordering is the rank SUM, surfaced as the top `k` by
    * (borda, doc_id). Rank fusion is scale-robust where score fusion
    * is not: the two signals live on incomparable scales, ranks
    * don't. Both ranks run [[rankBy]]'s shard trick (no global sort);
    * the final cut is a TakeOrderedAndProject. Only docs carrying
    * BOTH signals rank (outside the DSIR target source, >= 2
    * tokens). */
  def rankFusion(docs: DataFrame, targetSource: String,
      nBuckets: Int = DsirDefaultBuckets, granularity: Int = 8,
      k: Int = 100): DataFrame = {
    val lm = lmScore(docs).select(col("doc_id"), col("avg_nll"))
    val dw = dsirWeight(docs, targetSource, nBuckets)
      .select(col("doc_id"), col("avg_weight"))
    val both = lm.join(dw, Seq("doc_id")).pinnedLazy
    val r1 = rankBy(both, col("avg_nll"), granularity, "ppl_rank")
    val r2 = rankBy(both.select(col("doc_id"), col("avg_weight")),
      -col("avg_weight"), granularity, "dsir_rank")
      .select(col("doc_id"), col("dsir_rank"))
    r1.join(r2, Seq("doc_id"))
      .withColumn("borda", col("ppl_rank") + col("dsir_rank"))
      .select(col("doc_id"), col("avg_nll"), col("avg_weight"),
        col("ppl_rank"), col("dsir_rank"), col("borda"))
      .orderBy(col("borda").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Per-doc trigram occurrence counts (w1, w2, w3, k) — the
    * [[docBigrams]] shape one order up, built windowlessly per row.
    * (Exposed via [[docTrigramsOf]] for the streaming fold's
    * increment.) */
  private def docTrigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> struct(w[i] as w1, w[i+1] as w2, w[i+2] as w3))"))
        .as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("k"))

  /** [[docTrigrams]] for callers outside the object (the streaming
    * trigram fold's per-batch increment). */
  private[graft] def docTrigramsOf(docs: DataFrame): DataFrame =
    docTrigrams(docs)

  /** The trigram model frame (w1, w2, w3, c_abc) — train once, serve
    * many with [[lmScoreTrigramWith]]. */
  def lmTrigramModel(docs: DataFrame): DataFrame =
    docTrigrams(docs).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("k")).as("c_abc"))

  /** Trigram LM scoring with LADDERED stupid backoff (Brants et al.
    * 2007 one order up from [[lmScoreBackoff]]):
    *
    *   S(w3|w1 w2) = c123/c12                 seen trigram
    *               = 0.4 * c23/c2             else, seen bigram
    *               = 0.4^2 * (c3+1)/N         else (add-one unigram)
    *
    * with each arm's -log2 quantized to an exact integer bit length
    * (1/0.4 = 5/2, 1/0.16 = 25/4 — the products stay far under Long
    * at corpus scale). Reports how much probability mass came from
    * each rung (`n_bo_bigram`, `n_bo_unigram`) — the model-order
    * health read: a corpus scoring mostly through the unigram rung
    * is out-of-domain for the model. All serving tables derive from
    * the two model frames by keyed aggregation; only the 1-row total
    * broadcasts; every join is vocabulary-keyed. */
  def lmScoreTrigramWith(docs: DataFrame, tri: DataFrame,
      bi: DataFrame): DataFrame = {
    val t = tri.pinnedLazy // context marginal + the scoring join
    val b = bi.pinnedLazy // three marginals + the backoff join
    val ctx12 = t.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c_abc")).as("c_12"))
    val ctx2 = b.groupBy(col("lhs")).agg(sum(col("c_ab")).as("c_2"))
    val uni = b.groupBy(col("rhs")).agg(sum(col("c_ab")).as("c_3"))
    val tot = b.agg(sum(col("c_ab")).as("n_total"))
    // context marginals ride their MODEL join (guide §2.4): c_12 is
    // read only in the trigram-hit arm (where the (w1,w2) context is
    // in ctx12 by construction) and c_2 only in the bigram-hit arm
    // (where (w2) is in ctx2) — attaching each marginal model-side
    // (inner, 1:1 on its rung's key) is value-identical while the
    // doc-trigram stream rides THREE keyed exchanges instead of
    // five. c_3 must cover trigrams BOTH rungs missed, so the
    // unigram marginal keeps its own (w3)-keyed join.
    docTrigrams(docs)
      .join(t.join(ctx12, Seq("w1", "w2")), Seq("w1", "w2", "w3"),
        "left")
      .join(b.join(ctx2, Seq("lhs"))
        .select(col("lhs").as("w2"), col("rhs").as("w3"),
          col("c_ab").as("c_23"), col("c_2")), Seq("w2", "w3"), "left")
      .join(uni.select(col("rhs").as("w3"), col("c_3")), Seq("w3"),
        "left")
      .join(broadcast(tot), lit(true))
      .withColumn("nll_q", when(col("c_abc").isNotNull,
          (length(bin(expr("c_12 div c_abc"))) - 1).cast("long"))
        .otherwise(when(col("c_23").isNotNull,
          (length(bin(expr("(c_2 * 5) div (c_23 * 2)"))) - 1)
            .cast("long"))
        .otherwise((length(bin(expr(
          "(n_total * 25) div ((coalesce(c_3, 0) + 1) * 4)"))) - 1)
          .cast("long"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_q")).as("nll_sum"),
        sum(col("k")).as("n_trigrams"),
        sum(when(col("c_abc").isNull && col("c_23").isNotNull, col("k"))
          .otherwise(0L)).as("n_bo_bigram"),
        sum(when(col("c_abc").isNull && col("c_23").isNull, col("k"))
          .otherwise(0L)).as("n_bo_unigram"))
      .select(col("doc_id"), col("nll_sum"), col("n_trigrams"),
        col("n_bo_bigram"), col("n_bo_unigram"),
        (col("nll_sum").cast("double") / col("n_trigrams"))
          .as("avg_nll"))
  }

  /** The shared content-independent assignment primitive of the
    * split/sampling family ([[trainValTestSplit]],
    * [[sampleStratified]], [[mixRebalance]]): first 4 hex nibbles of
    * md5(prefix || doc_id), mod `mod`. Distinct prefixes keep the
    * family's decisions mutually independent. Documented bias (once,
    * here): 65536 % mod != 0 for mod 10/1000, so low buckets are
    * over-represented by 1/65536 each — negligible for curation, and
    * kept because the 4-nibble prefix is cheap and engine-portable. */
  private def saltBucket(prefix: String, mod: Long): Column =
    saltBucketOf(prefix, col("doc_id"), mod)

  /** [[saltBucket]] generalized to an arbitrary key column — the
    * group-keyed split ([[groupSplit]]) hashes the dedup GROUP id, not
    * the doc id, so all members of a near-dup group draw the same
    * bucket. Same arithmetic, same documented 1/65536 bias. */
  private def saltBucketOf(prefix: String, key: Column, mod: Long): Column =
    conv(substring(md5(concat(lit(prefix),
      key.cast("string"))), 1, 4), 16, 10).cast("long") % mod

  /** 8/1/1 bucket → split-name mapping shared by [[trainValTestSplit]]
    * and [[groupSplit]] so the two splits differ ONLY in what keys the
    * hash. */
  private def splitOf(bucket: Column): Column =
    when(bucket <= 7, "train")
      .when(bucket === 8, "val")
      .otherwise("test")

  /** Deterministic train/val/test split (8/1/1 by default): every doc
    * is assigned by a content-independent hash of its id — the split is
    * reproducible across runs, machines, and engines (md5 is
    * bit-identical everywhere), requires no shuffle or state, and a
    * re-run over a grown corpus never reassigns an existing doc. This
    * is how a training pipeline splits at 100 TB: a per-row expression,
    * not a global sample(). [[saltBucket]]'s documented 1/65536 bias
    * makes the split ~8.0002/1/0.9999, not exactly 8/1/1. */
  def trainValTestSplit(docs: DataFrame): DataFrame = {
    val bucket = saltBucket("", 10)
    docs.select(
      col("doc_id"),
      bucket.as("bucket"),
      splitOf(bucket).as("split"))
  }

  /** Leakage-safe train/val/test split: the assignment hash is keyed
    * by the NEAR-DUP GROUP, not the doc id, so every member of a
    * duplicate cluster lands in the same split — a doc-id-keyed split
    * puts near-copies of one page on both sides of the train/eval
    * fence and the eval set silently measures memorization (the
    * failure Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" §6 quantifies: dup-driven eval overlap).
    * Docs outside any dup group key by their own id under the SAME
    * prefix, so growing the corpus never reassigns them.
    *
    * Scale shape: [[nearDupMinhash]] + [[dupGroups]] touch only the
    * banded-candidate subgraph (duplication-mass-sized, never the
    * corpus); the one corpus-sized operation is a left join on doc_id
    * against that small group table, then a per-row hash. */
  def groupSplit(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val groups = dupGroups(
      nearDupMinhash(docs, threshold).select(col("doc_a"), col("doc_b")))
    val bucket = saltBucketOf("gsp:", col("group_id"), 10)
    docs.join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .select(col("doc_id"), col("group_id"), bucket.as("bucket"),
        splitOf(bucket).as("split"))
  }

  /** Split-leakage audit — the one-row report that justifies
    * [[groupSplit]]: over the near-dup groups, how many straddle a
    * doc-id-keyed split (leaky: a near-copy of a training doc sits in
    * val/test) vs the group-keyed split (structurally zero, but
    * COMPUTED here, not assumed — the report is the regression test).
    * Only group members are touched ([[dupGroups]] output, never the
    * corpus); two aggregates end at one row. */
  def splitLeakage(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val groups = dupGroups(
      nearDupMinhash(docs, threshold).select(col("doc_a"), col("doc_b")))
    val perGroup = groups
      .select(col("doc_id"), col("group_id"),
        splitOf(saltBucketOf("", col("doc_id"), 10)).as("naive_split"),
        splitOf(saltBucketOf("gsp:", col("group_id"), 10))
          .as("group_split"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("naive_split")).as("n_naive_splits"),
        countDistinct(col("group_split")).as("n_group_splits"))
    perGroup.agg(
      count(lit(1)).as("n_groups"),
      sum(col("n_docs")).as("n_docs_in_groups"),
      sum(when(col("n_naive_splits") > 1, 1L).otherwise(0L))
        .as("n_leaky_naive"),
      sum(when(col("n_group_splits") > 1, 1L).otherwise(0L))
        .as("n_leaky_grouped"))
  }

  /** Deterministic stratified (per-language) downsampling — the
    * corpus-balancing pass of a training pipeline: cap the dominant
    * strata, keep the rest. Every doc is kept iff its
    * content-independent hash bucket falls below its stratum's
    * keep-rate in permille: md5 over a salted doc_id (the "strat:"
    * salt keeps the decision independent of [[trainValTestSplit]]'s
    * buckets), first 4 hex nibbles mod 1000 ([[saltBucket]], with its
    * documented 1/65536 low-bucket bias). Like the split this is a
    * pure per-row predicate — reproducible across runs/machines/
    * engines, no shuffle, no global sample(), and a re-run over a
    * grown corpus never flips an existing doc's decision.
    *
    * `rates` is strata-cardinality (languages), joined as a broadcast
    * literal frame — the policy-sanctioned constant broadcast. */
  def sampleStratified(docs: DataFrame, rates: Seq[(String, Long)],
      defaultPermille: Long = 1000L): DataFrame = {
    require((defaultPermille +: rates.map(_._2))
        .forall(p => p >= 0 && p <= 1000),
      "keep rates are permille values in [0, 1000]")
    // a duplicated stratum would FAN OUT the left join and silently
    // duplicate that stratum's kept documents — refuse instead
    require(rates.map(_._1).distinct.size == rates.size,
      s"duplicate stratum in rates: ${rates.map(_._1).diff(
        rates.map(_._1).distinct).distinct.mkString(", ")}")
    val s = docs.sparkSession
    import s.implicits._
    val r = broadcast(rates.toDF("lang", "keep_permille"))
    val bucket = saltBucket("strat:", 1000)
    docs.join(r, Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        coalesce(col("keep_permille"), lit(defaultPermille))
          .as("keep_permille"))
      .where(col("bucket") < col("keep_permille"))
  }

  /** Deterministic sharded corpus shuffle — the pre-training
    * randomization pass: training order must be a reproducible
    * pseudo-random permutation of the curated corpus. A single global
    * rank (row_number over the whole corpus) would funnel 100 TB
    * through one partition, so the permutation is factored the way
    * production loaders shard it: a content-independent salted hash
    * assigns each doc to one of `nShards` shards (md5("shuf:"||id) —
    * the salt keeps the order independent of [[trainValTestSplit]] /
    * [[sampleStratified]] buckets), and the position WITHIN the shard
    * orders by the remaining hash entropy (salt, then doc_id as the
    * total-order tie-break). Global order = (shard, pos_in_shard);
    * every shard sorts only |corpus|/nShards rows in parallel, and a
    * training job reads shards in index order. Per-row hashing plus one
    * bounded per-shard window — no global sort, no state. */
  def globalShuffle(docs: DataFrame, nShards: Int = 64): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val salt = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val shard = conv(substring(col("salt"), 1, 4), 16, 10)
      .cast("long") % nShards
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("salt").asc, col("doc_id").asc)
    docs.select(col("doc_id"), salt.as("salt"))
      .withColumn("shard", shard)
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
  }

  /** Data-driven source-mixture rebalancing — the domain-reweighting
    * pass of a training-data pipeline: given target TOKEN shares per
    * source (permille of the corpus total), compute each source's
    * keep-rate from its measured token mass and downsample it to its
    * target. Unlike [[sampleStratified]] (rates given), the rates here
    * are DERIVED: keep_permille(src) = min(1000,
    * (total*share/1000)*1000 div source_tokens), all exact integer
    * arithmetic, then the same content-independent salted-md5 per-doc
    * predicate ("mix:" salt — independent of the split and strat
    * buckets). Rates cap at 1000 — this operator only downsamples
    * (upsampling duplicates training data; express epochs in the
    * loader instead). Sources ABSENT from `shares` are dropped — a
    * mixture definition is exhaustive by design, and silently keeping
    * an unlisted source at full weight is the bug. Doc-level sampling
    * approximates the token target in expectation (exact per-token
    * trimming would split documents).
    *
    * Scale shape: one tokens-per-source aggregate (sources-cardinality,
    * broadcast back as an aggregated frame per the broadcast policy),
    * a 1-row total, and a per-row keep predicate — no corpus shuffle
    * at all. */
  def mixRebalance(docs: DataFrame,
      shares: Seq[(String, Long)]): DataFrame = {
    require(shares.nonEmpty, "shares must list at least one source")
    require(shares.map(_._1).distinct.size == shares.size,
      s"duplicate source in shares: ${shares.map(_._1).diff(
        shares.map(_._1).distinct).distinct.mkString(", ")}")
    require(shares.forall(_._2 >= 0) && shares.map(_._2).sum <= 1000,
      "shares are permille values >= 0 summing to <= 1000")
    val s = docs.sparkSession
    import s.implicits._
    val sh = shares.toDF("source", "share_permille")
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bySource = toks.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("source_tokens"))
    val total = toks.agg(sum(col("n_tokens")).as("total_tokens"))
    // DECIMAL(38,0) intermediates: in BIGINT the total_tokens*1000
    // product overflows near ~9e15 corpus tokens (ANSI mode throws;
    // non-ANSI silently wraps to wrong keep rates) — decimal keeps the
    // products exact to 38 digits, and `div` surfaces BIGINT quotients
    // (keep_permille <= 1000 by construction). The DuckDB oracle
    // mirrors with HUGEINT (int128) — its `//` on DECIMAL degrades to
    // DOUBLE true-division, so decimal is NOT the exact mirror there.
    val rates = bySource
      .join(broadcast(sh), Seq("source")) // inner: unlisted -> dropped
      .crossJoin(broadcast(total)) // 1-row scalar frame
      .select(col("source"),
        least(lit(1000L),
          expr("CAST(CAST(total_tokens AS DECIMAL(38,0))" +
            " * share_permille div 1000 AS DECIMAL(38,0))" +
            " * 1000 div source_tokens")).as("keep_permille"))
    val bucket = saltBucket("mix:", 1000)
    toks
      .join(broadcast(rates), Seq("source")) // sources-cardinality agg
      .select(col("doc_id"), col("source"), col("n_tokens"),
        bucket.as("bucket"), col("keep_permille"))
      .where(col("bucket") < col("keep_permille"))
  }

  /** Temperature-based source rebalancing — the multilingual-LM
    * mixing rule (mT5 / XLM-R: sample source s with probability
    * proportional to n_s^alpha, alpha = 1/tau < 1 flattening the
    * source distribution) rendered as deterministic per-doc keep
    * rates, for alpha = 1/q with integer q (q = 2, tau = 2, is the
    * classic setting; q = 1 is proportional passthrough). Where
    * [[mixRebalance]] takes EXPLICIT target shares, this derives them
    * from the corpus itself: t_s = floor(n_s^(1/q)) exactly (integer
    * q-th root), target share p_s = t_s / sum(t), and the token
    * budget is the largest B with B * p_s <= n_s for every source —
    * the biggest corpus that achieves the temperature distribution by
    * pure subsampling (a keep-rate operator cannot upsample; the
    * scarcest-after-flattening source caps the budget at keep rate
    * ~1). Keep decisions ride [[saltBucket]] (prefix `mixt:`), so
    * membership is reproducible and independent of the family's other
    * splits.
    *
    * The root is EXACT despite the IEEE seed: POWER's result can land
    * either side of the true root and engines disagree on
    * double->bigint rounding, so the largest candidate in [g-2, g+2]
    * whose exact integer q-th power fits is taken — both engines
    * compute the same t_s bit-for-bit. Scale shape: one per-source
    * aggregate (sources-cardinality), two 1-row scalar frames, all
    * broadcast; the corpus is touched by exactly one aggregate and
    * one broadcast-joined filter pass. All products run in
    * DECIMAL(38,0) (mirrored as HUGEINT in the oracle): in BIGINT
    * the budget*t_s*1000 numerator overflows near ~4e10 corpus
    * tokens for q=2 (and ~1e8 for q=1) — far BELOW the 100 TB
    * design point, where ANSI mode throws and non-ANSI silently
    * wraps. Widened, the numerator stays exact to 10^38: the q=1
    * worst case N^2*1000 holds to ~3e17 corpus tokens and q>=2 to
    * ~2e23 — both orders of magnitude past ~1e13 (100 TB). The
    * per-source budget candidate `b` surfaces as a BIGINT quotient,
    * exact while min(b) < 2^63 (~9e18 tokens). */
  def mixTemperature(docs: DataFrame, q: Int = 2,
      localSourceLimit: Int = MixLocalSourceLimit): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    mixTemperatureToks(toks,
      toks.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("source_tokens")), q,
      localSourceLimit)
  }

  /** [[mixTemperature]] against EXPLICIT per-source token totals
    * `bySource(source, source_tokens)` — the serving half once a
    * maintained totals table exists (graft.streaming.Streams'
    * corpusSink state): new batches mix under the ACCUMULATED
    * corpus's temperature rates instead of their own batch-local
    * distribution. Identical arithmetic to the self-derived form —
    * mixTemperature(d) == mixTemperatureWith(d, totals-of-d) by
    * construction. */
  def mixTemperatureWith(docs: DataFrame, bySource: DataFrame,
      q: Int = 2, localSourceLimit: Int = MixLocalSourceLimit): DataFrame =
    mixTemperatureToks(docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens")),
      bySource, q, localSourceLimit)

  /** Default cap for [[mixTemperature]]'s driver-collapsed rates
    * route: a per-source frame at or under this collects to the
    * driver (bounded — a few MB at worst) and the rate arithmetic
    * runs locally; anything larger takes the distributed plan
    * unchanged. The serving family's `localPairLimit` discipline. */
  val MixLocalSourceLimit = 65536

  private def mixTemperatureToks(toks: DataFrame, bySource: DataFrame,
      q: Int, localSourceLimit: Int): DataFrame = {
    require(q >= 1 && q <= 6,
      s"temperature exponent q must be in [1, 6], got $q")
    require(localSourceLimit > 0, "localSourceLimit must be positive")
    // candidate powers in DECIMAL(38,0): (g+2)^q brushes Long.Max
    // when source_tokens itself nears 2^63
    val powT =
      ("CAST(t AS DECIMAL(38,0))" +: Seq.fill(q - 1)("t")).mkString(" * ")
    val alpha = 1.0 / q
    // sources-cardinality; feeds three consumers (sum, min, join)
    val rootsPlan = bySource
      .withColumn("g", expr("CAST(POWER(CAST(source_tokens AS " +
        s"DOUBLE), ${alpha}D) AS BIGINT)"))
      .withColumn("t_s", expr(
        "array_max(filter(array(g - 2, g - 1, g, g + 1, g + 2), " +
          s"t -> t >= 1 AND $powT <= source_tokens))"))
      .select(col("source"), col("source_tokens"), col("t_s"))
    // Route probe (the serving family's localPairLimit discipline,
    // guide §2.6/§2.4): limit(N+1) decides in ONE job whether the
    // per-source frame fits the driver. At or under the cap the
    // collected rows ARE the complete roots frame, and the three
    // scalar aggregates (tot_t, budget, the rates projection) run
    // driver-side over <= N rows — no roots checkpoint job, no
    // tot_t/budget scalar jobs, and the rates frame re-emits as a
    // bounded LocalRelation whose broadcast builds driver-side for
    // free. Over the cap (domain-level mixing, unbounded sources by
    // contract) the distributed plan below runs unchanged.
    val probe = Route.bounded(rootsPlan, localSourceLimit)
    if (probe.isDefined) {
      // Driver-side mirror of the distributed arithmetic, exact by
      // construction: t_s and source_tokens arrive from the SAME
      // Spark expressions the distributed route aggregates (the probe
      // collects rootsPlan itself), and every product runs in BigInt —
      // value-identical to the DECIMAL(38,0) plan within its own
      // documented 10^38 envelope. Null propagation mirrors the
      // distributed operators: sum/min skip null inputs (an all-null
      // frame yields null tot_t/budget), and least(1000, null) = 1000,
      // so a null t_s (a 0-token source) keeps at rate 1000 in both
      // routes. The `div` quotients are BIGINT in the plan; a quotient
      // past 2^63 is the same >10^38-class envelope (null there,
      // exact here) and is unreachable at the 100 TB design point.
      val rows = probe.get.toSeq.map { r =>
        val st = if (r.isNullAt(1)) None
          else Some(r.get(1).asInstanceOf[Number].longValue)
        val ts = if (r.isNullAt(2)) None
          else Some(r.get(2).asInstanceOf[Number].longValue)
        (r.get(0), st, ts)
      }
      val tss = rows.flatMap(_._3)
      val totT: Option[Long] = if (tss.isEmpty) None else Some(tss.sum)
      val budget: Option[BigInt] = totT.flatMap { tt =>
        val bs = rows.collect { case (_, Some(st), Some(ts)) =>
          BigInt(st) * BigInt(tt) / BigInt(ts) // ts >= 1 by construction
        }
        if (bs.isEmpty) None else Some(bs.min)
      }
      val keepRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(rows.map { case (src, stOpt, tsOpt) =>
          val kp: java.lang.Long = (totT, budget, stOpt, tsOpt) match {
            case (Some(tt), Some(b), Some(st), Some(ts)) if st != 0L =>
              val v = b * BigInt(ts) * 1000 / (BigInt(tt) * BigInt(st))
              java.lang.Long.valueOf(
                if (v.isValidLong) math.min(1000L, v.toLong) else 1000L)
            case _ => java.lang.Long.valueOf(1000L) // least(1000, null)
          }
          org.apache.spark.sql.Row(src, kp)
        }: _*)
      val rates = toks.sparkSession.createDataFrame(keepRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source",
            rootsPlan.schema("source").dataType),
          org.apache.spark.sql.types.StructField("keep_permille",
            org.apache.spark.sql.types.LongType))))
      val bucket = saltBucket("mixt:", 1000)
      toks
        // bounded by the route cap — the broadcast hint is safe HERE
        // (the unbounded-sources case took the distributed arm)
        .join(broadcast(rates), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          bucket.as("bucket"), col("keep_permille"))
        .where(col("bucket") < col("keep_permille"))
    } else {
      val roots = rootsPlan.pinnedLazy
      val totT = roots.agg(sum(col("t_s")).as("tot_t")) // 1-row scalar
      val budget = roots.crossJoin(broadcast(totT))
        .select(expr("CAST(source_tokens AS DECIMAL(38,0))" +
          " * tot_t div t_s").as("b"))
        .agg(min(col("b")).as("budget")) // 1-row scalar
      val rates = roots.crossJoin(broadcast(totT))
        .crossJoin(broadcast(budget))
        .select(col("source"),
          least(lit(1000L),
            expr("CAST(budget AS DECIMAL(38,0)) * t_s * 1000" +
              " div (CAST(tot_t AS DECIMAL(38,0)) * source_tokens)"))
            .as("keep_permille"))
      val bucket = saltBucket("mixt:", 1000)
      toks
        // rates is DATA-derived (one row per distinct source): on this
        // arm the source count exceeded the route cap (domain-level
        // mixing, unbounded sources), so it must shuffle — unlike
        // mixRebalance, whose rates frame is bounded by the caller's
        // explicit share list, no hint is safe here
        .join(rates, Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          bucket.as("bucket"), col("keep_permille"))
        .where(col("bucket") < col("keep_permille"))
    }
  }

  /** (doc_id, lhs, rhs, k) — each document's adjacent-bigram stream
    * with within-doc multiplicity, built per-row from the token array
    * (the [[repetition]] pattern: no window, no self-join; rows never
    * leave their document's partition before the count shuffle).
    * Shared scaffolding of the bigram-LM scorer and the DSIR featureizer.
    * Documents with < 2 tokens have no bigrams and drop out — the same
    * not-assessable rule as every shingle route. */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), " +
          "i -> struct(w[i] AS lhs, w[i+1] AS rhs))")).as("b"))
      .select(col("doc_id"), col("b.lhs").as("lhs"), col("b.rhs").as("rhs"))
      .groupBy(col("doc_id"), col("lhs"), col("rhs"))
      .agg(count(lit(1)).as("k"))

  /** Bigram-LM cross-entropy quality score — the perplexity filter of
    * CCNet (Wenzek et al. 2020) / Gopher, with the external KenLM
    * replaced by a self-trained corpus bigram model: documents whose
    * token stream is improbable under the corpus' own bigram statistics
    * (rare continuations, unnatural word order) score high and are
    * curation drop candidates. The negative log-likelihood of each
    * bigram occurrence, -log2 P(rhs|lhs) = log2(c(lhs)/c(lhs,rhs)), is
    * QUANTIZED to floor(log2(c_lhs div c_ab)) — the [[tfidfTopTerm]]
    * trick: an exact integer (the bit length of an integer division) in
    * any engine, so per-doc sums are order-independent exact BIGINTs
    * and the average is ONE final IEEE division. The context count
    * c(lhs) is derived from the bigram table itself (occurrences of
    * `lhs` in non-final position), so P(·|lhs) is a true conditional —
    * sums to 1 over the observed continuations — with no separate
    * unigram pass.
    *
    * Scale shape: one per-row bigram projection → ONE (doc_id, lhs,
    * rhs) count shuffle, pinned (Stage.pinnedLazy) for its two consumers; the
    * LM is two further aggregates of that frame; scoring joins shuffle
    * on the bigram key and then on `lhs` — model tables are vocabulary-
    * (and vocabulary²-)sized and are NEVER broadcast. Nothing is
    * corpus-quadratic; no driver-side state. */
  def lmScore(docs: DataFrame): DataFrame = {
    val db = docBigrams(docs).pinnedLazy
    lmScored(db, lmModelOf(db))
  }

  /** The corpus bigram LM as an explicit (lhs, rhs, c_ab) frame — the
    * model half of [[lmScore]], exposed so an incrementally-maintained
    * model (graft.streaming.Streams.lmSink state) can be compared to,
    * or substituted for, the one-shot batch training. */
  def lmModel(docs: DataFrame): DataFrame = lmModelOf(docBigrams(docs))

  private[operators] def lmModelOf(db: DataFrame): DataFrame =
    db.groupBy(col("lhs"), col("rhs")).agg(sum(col("k")).as("c_ab"))

  /** [[lmScore]] against an EXPLICIT (lhs, rhs, c_ab) model frame —
    * the serving half once a trained/maintained model exists. Scoring
    * is inner-joined on the bigram key: a document bigram the model
    * never observed has no probability under it and contributes
    * nothing (n_bigrams counts SCORED occurrences); when the model was
    * trained on the scored corpus itself ([[lmScore]]) every bigram is
    * observed and the two halves coincide. */
  def lmScoreWith(docs: DataFrame, lm: DataFrame): DataFrame =
    lmScored(docBigrams(docs), lm)

  /** Stupid-backoff bigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4: S(rhs|lhs) =
    * c_ab/c_lhs when the bigram was observed, else alpha * S(rhs)
    * with alpha = 0.4 — the non-normalized backoff web-scale LMs use
    * because proper discounting buys little at corpus size): the
    * serving upgrade over [[lmScoreWith]]'s inner-join semantics —
    * EVERY bigram occurrence scores, unseen transitions pay the
    * backed-off unigram cost instead of silently dropping out, so
    * cross-corpus serving covers every >= 2-token doc and reports how
    * much of each doc's mass backed off (`n_backoff`).
    *
    * Quantization: the seen arm keeps [[lmScore]]'s floor-log2 bit
    * length; the unseen arm is floor(log2((5*N) div (2*cb))) with
    * cb = c_rhs + 1 (add-one over the backoff distribution, so an
    * UNKNOWN rhs still scores) — 5/2 is exactly 1/alpha, and 5*N at
    * a 1e13-bigram corpus is 5e13, far under Long. All serving
    * tables derive from the model frame alone (context sums, unigram
    * sums, the 1-row total — the scalar-frame exception); the model
    * tables join by key, never broadcast. */
  def lmScoreBackoff(docs: DataFrame, lm: DataFrame): DataFrame = {
    val ctx = lm.groupBy(col("lhs")).agg(sum(col("c_ab")).as("c_lhs"))
    val uni = lm.groupBy(col("rhs")).agg(sum(col("c_ab")).as("c_rhs"))
    val tot = lm.agg(sum(col("c_ab")).as("n_total"))
    // c_lhs rides the model join (guide §2.4): the seen arm is the
    // only consumer of c_lhs, and a bigram seen in lm always has its
    // lhs in ctx, so attaching the marginal model-side (inner, 1:1)
    // is value-identical while the corpus-scale (lhs) re-shuffle of
    // the scored stream disappears. uni keys on rhs AND must cover
    // bigrams the model missed — it stays its own keyed join.
    docBigrams(docs)
      .join(lm.join(ctx, Seq("lhs")), Seq("lhs", "rhs"), "left")
      .join(uni, Seq("rhs"), "left")
      .join(broadcast(tot), lit(true))
      .withColumn("nll_q", when(col("c_ab").isNotNull,
          (length(bin(expr("c_lhs div c_ab"))) - 1).cast("long"))
        .otherwise((length(bin(expr(
          "(n_total * 5) div ((coalesce(c_rhs, 0) + 1) * 2)"))) - 1)
          .cast("long")))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_q")).as("nll_sum"),
        sum(col("k")).as("n_bigrams"),
        sum(when(col("c_ab").isNull, col("k")).otherwise(0L))
          .as("n_backoff"))
      .select(col("doc_id"), col("nll_sum"), col("n_bigrams"),
        col("n_backoff"),
        (col("nll_sum").cast("double") / col("n_bigrams"))
          .as("avg_nll"))
  }

  private def lmScored(db: DataFrame, lm: DataFrame): DataFrame = {
    // the context marginal attaches to the MODEL (vocabulary²-sized)
    // before the corpus-sized scoring join, so the doc-bigram stream
    // rides ONE exchange instead of two (guide §2.4 — two operations
    // keyed the same way share one exchange; the (lhs) re-shuffle of
    // the corpus-scale joined stream is removed outright). ctx is
    // keyed by lhs and covers every model lhs, so the inner attach
    // changes no values.
    val ctx = lm.groupBy(col("lhs")).agg(sum(col("c_ab")).as("c_lhs"))
    db.join(lm.join(ctx, Seq("lhs")), Seq("lhs", "rhs"))
      .withColumn("nll_q",
        (length(bin(expr("c_lhs div c_ab"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_q")).as("nll_sum"),
        sum(col("k")).as("n_bigrams"))
      .select(col("doc_id"), col("nll_sum"), col("n_bigrams"),
        (col("nll_sum").cast("double") / col("n_bigrams"))
          .as("avg_nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.4: rank
    * the corpus by LM perplexity and split into head/middle/tail —
    * the head is what their pipeline keeps for training): every
    * scored doc gets its EXACT global perplexity rank and an
    * as-even-as-possible bucket 1..nBuckets.
    *
    * The global rank is computed WITHOUT a single-partition window:
    * docs shard by the order-aligned quantization floor(avg_nll * 8)
    * (monotone in the score, so shard boundaries respect the global
    * (avg_nll, doc_id) order — and unlike repartitionByRange's
    * sampled boundaries, deterministic); in-shard ranks are a
    * shard-partitioned window, and each shard's global offset comes
    * from one tiny per-shard count frame (score-range-bounded
    * cardinality — its cumulative window and the 1-row total are the
    * scalar-frame exception, like every global aggregate here). The
    * bucket is floor((rank-1)*nBuckets/N)+1 — an explicit integer
    * formula instead of NTILE, so both engines replay it exactly.
    *
    * Skew knob: a corpus whose scores concentrate inside one
    * 1/granularity-unit cell serializes that cell's in-shard window —
    * raise `granularity` to split the hot range (shard cardinality
    * stays score-range-bounded, ~64*granularity cells). Exact ties
    * (identical avg_nll) are inherently one cell's work: their order
    * is (avg_nll, doc_id), which no score-aligned split can cut. */
  def pplBuckets(docs: DataFrame, nBuckets: Int = 3,
      granularity: Int = 8): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(granularity >= 1,
      s"granularity must be >= 1, got $granularity")
    val scored = lmScore(docs)
      .select(col("doc_id"), col("avg_nll")).pinnedLazy
    val sh = scored.withColumn("shard",
      floor(col("avg_nll") * granularity).cast("long"))
    val counts = sh.groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt")).pinnedLazy
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = counts.withColumn("offset",
      coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("shard"), col("offset"))
    val nTotal = counts.agg(sum(col("cnt")).as("n_total"))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("avg_nll"), col("doc_id"))
    sh.join(broadcast(off), Seq("shard"))
      .withColumn("ppl_rank",
        row_number().over(wIn).cast("long") + col("offset"))
      .join(broadcast(nTotal), lit(true))
      .select(col("doc_id"), col("avg_nll"), col("ppl_rank"),
        (expr(s"(ppl_rank - 1) * $nBuckets div n_total") + 1)
          .cast("int").as("bucket"))
  }

  /** The one hashed-feature bucket-count default, shared by every
    * dsir entry point (batch model, serving, and the streaming sink)
    * — model and serving hashing MUST agree, so the default has one
    * definition. A divisor of 65536 (see [[dsirPerDoc]]). */
  val DsirDefaultBuckets = 1024

  /** DSIR-style hashed-n-gram importance weight (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by how target-like its hashed n-gram
    * feature distribution is, as log p_target(f) - log p_raw(f) summed
    * over the doc's features — the importance-resampling weight that
    * selects in-domain training data from a 100 TB crawl given a small
    * trusted corpus. Features are unigrams and adjacent bigrams hashed
    * into `nBuckets` by the portable md5-hex-prefix bucket (the
    * [[trainValTestSplit]] idiom — bit-identical in any engine);
    * the target here is the corpus slice `source = targetSource`
    * (DSIR's trusted corpus), the raw side is everything else.
    * Each side's per-bucket counts get add-one smoothing (every bucket
    * observable, no log of zero), and both logs quantize to
    * floor(log2(count+1)) — exact integers, so the per-doc weight
    * sum is order-independent BIGINT arithmetic. The per-side
    * normalizers log2(N_t), log2(N_r) shift every feature's score by
    * the same constant, so they are folded in per occurrence (weights
    * stay comparable across docs of different lengths after the final
    * per-feature-occurrence division — ONE IEEE division, like every
    * score here).
    *
    * Scale shape: one per-row feature projection over the corpus → ONE
    * (doc_id, bucket, side) count shuffle pinned (Stage.pinnedLazy) for its
    * consumers; the two distributions are ONE further aggregate of the
    * bucket frame each; scoring joins shuffle on the bucket id. The
    * bucket tables are nBuckets rows — broadcastable at ANY corpus
    * size (the whole point of feature hashing: model size is fixed by
    * construction, not vocabulary-sized), so both sides broadcast-join
    * onto the per-doc bucket counts. */
  def dsirWeight(docs: DataFrame, targetSource: String,
      nBuckets: Int = DsirDefaultBuckets): DataFrame = {
    val pd = dsirPerDoc(docs, nBuckets).pinnedLazy
    dsirScored(pd, dsirDistOf(pd, targetSource), targetSource)
  }

  /** The two-sided hashed-feature distribution as an explicit
    * (bucket, c_t, c_r) RAW-count frame — the model half of
    * [[dsirWeight]], exposed so an incrementally-maintained
    * distribution (graft.streaming.Streams.dsirSink state) can be
    * compared to, or substituted for, the one-shot batch counting.
    * Counts are raw (smoothing happens at scoring) because addition
    * is the merge the streaming fold needs — the quantized logs are
    * not additive. */
  def dsirDist(docs: DataFrame, targetSource: String,
      nBuckets: Int = DsirDefaultBuckets): DataFrame =
    dsirDistOf(dsirPerDoc(docs, nBuckets), targetSource)

  /** [[dsirWeight]] against an EXPLICIT (bucket, c_t, c_r)
    * distribution — the serving half once a trained/maintained
    * distribution exists. Every non-target document scores; feature
    * hashing makes unseen features a non-issue (they land in SOME
    * bucket, smoothed by the +1). CALLER CONTRACT: `nBuckets` must be
    * the bucket count the distribution was BUILT with — bucket ids
    * alone cannot reveal their modulus, so a mismatch cannot be
    * detected here and would score under incompatible hashing. All
    * four dsir entry points share [[DsirDefaultBuckets]] so the
    * defaults cannot drift apart. */
  def dsirWeightWith(docs: DataFrame, dist: DataFrame,
      targetSource: String, nBuckets: Int = DsirDefaultBuckets): DataFrame =
    dsirScored(dsirPerDoc(docs, nBuckets), dist, targetSource)

  /** (doc_id, source, bucket, k) — per-document hashed-feature bucket
    * counts, the shared entry of the DSIR model and serving halves
    * (and the per-batch increment of the streaming fold). */
  private[graft] def dsirPerDoc(docs: DataFrame,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && 65536 % nBuckets == 0,
      s"nBuckets must be a positive divisor of 65536 (the 16-bit md5 " +
        s"prefix is reduced mod nBuckets; a divisor keeps every bucket " +
        s"exactly equiprobable), got $nBuckets")
    // unigrams + bigrams in one per-row pass (the repetition pattern),
    // hashed to a bucket id per occurrence
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        // the bigram branch is CASE-guarded: a 1-token doc's
        // sequence(0, -1) is DESCENDING in Spark ([0, -1]) and the
        // out-of-bounds w[i+1] lookup THROWS under ANSI mode —
        // slice(w, 1, 0) is the typed empty array for that arm
        "concat(" +
          "transform(w, t -> concat('u:', t)), " +
          "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2), " +
          "  i -> concat('b:', w[i], ' ', w[i+1])) ELSE slice(w, 1, 0) END" +
          ")")).as("f"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("f")), 1, 4), 16, 10).cast("long")
          % nBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("k"))
  }

  private def dsirDistOf(pd: DataFrame,
      targetSource: String): DataFrame = {
    val isTarget = col("source") === targetSource
    pd.groupBy(col("bucket"))
      .agg(sum(when(isTarget, col("k")).otherwise(lit(0L))).as("c_t"),
        sum(when(!isTarget, col("k")).otherwise(lit(0L))).as("c_r"))
  }

  private def dsirScored(pd: DataFrame, dist: DataFrame,
      targetSource: String): DataFrame = {
    // nBuckets-row frame: add-one smoothing + bit-length log here, so
    // the stored model stays in the additive raw-count domain
    val qdist = dist.select(col("bucket"),
      (length(bin(col("c_t") + 1)) - 1).cast("long").as("qlog_t"),
      (length(bin(col("c_r") + 1)) - 1).cast("long").as("qlog_r"))
    // LEFT join: under a FOREIGN distribution ([[dsirWeightWith]]) a
    // scored doc can hit a bucket the model never observed — both
    // sides then smooth to count 1 and the occurrence scores 0, it
    // does not silently drop (self-trained scoring never takes the
    // null branch: every scored bucket is in its own distribution)
    pd.where(col("source") =!= targetSource)
      .join(broadcast(qdist), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * (coalesce(col("qlog_t"), lit(0L))
          - coalesce(col("qlog_r"), lit(0L)))).as("w_sum"),
        sum(col("k")).as("n_feats"))
      .select(col("doc_id"), col("w_sum"), col("n_feats"),
        (col("w_sum").cast("double") / col("n_feats"))
          .as("avg_weight"))
  }

  // ---- supervised quality classifier (multinomial Naive Bayes) ---------
  // The classifier-based arm of web-corpus curation (the GPT-3 /
  // LLaMA recipe: a linear classifier scores crawl pages against a
  // trusted positive corpus; Brown et al. 2020 §A, Touvron et al.
  // 2023 §2.1 — "classify Wikipedia-referenced vs random pages").
  // Next to the generative selectors already here (bigram-LM
  // perplexity, DSIR importance weights) this is the DISCRIMINATIVE
  // selector: labeled positive AND negative slices, class priors, and
  // an argmax keep/drop decision. Multinomial NB over raw token
  // counts is the fastText-class linear model whose training is pure
  // counting — one aggregate pass, exactly replayable — and whose
  // model is vocabulary-sized: keyed shuffle joins, NEVER broadcast
  // (the LM-table discipline).

  /** Train the NB model: per-word occurrence counts in the positive
    * and negative training slices — (word, c_p, c_n), one count
    * aggregate over the training corpus. */
  def nbModel(docs: DataFrame, posSource: String,
      negSource: String): DataFrame =
    docs.where(col("source").isin(posSource, negSource))
      .select(col("source"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(sum(when(col("source") === posSource, 1L).otherwise(0L))
          .as("c_p"),
        sum(when(col("source") === negSource, 1L).otherwise(0L))
          .as("c_n"))

  /** Class priors as a 1-row (d_p, d_n) document-count frame — kept a
    * FRAME (not driver literals) so the whole classifier stays one
    * declarative plan; it cross-joins broadcast like every scalar CTE
    * here. */
  def nbPriors(docs: DataFrame, posSource: String,
      negSource: String): DataFrame =
    docs.where(col("source").isin(posSource, negSource))
      .agg(sum(when(col("source") === posSource, 1L).otherwise(0L))
          .as("d_p"),
        sum(when(col("source") === negSource, 1L).otherwise(0L))
          .as("d_n"))

  /** Score documents under an EXPLICIT NB model + priors — the
    * serving half ([[nbClassify]] composes the three). Laplace
    * add-one smoothing and bit-length-quantized logs keep every
    * per-class score an exact BIGINT:
    *
    *   score_c = qlog2(d_c+1) - qlog2(d_p+d_n+2)          (prior)
    *           + sum_w k_w * qlog2(c_wc + 1)              (likelihood)
    *           - n_tokens * qlog2(N_c + V)                (normalizer)
    *
    * with qlog2(x) = floor(log2 x) = bit_length(x) - 1. A word the
    * model never saw smooths to count 1 → qlog2(1) = 0, which is
    * exactly what the LEFT join's coalesce-to-0 contributes — unseen
    * vocabulary is handled by the same arithmetic, not a special
    * case. Ties keep (score_p = score_n → 'keep'), margin is ONE
    * final IEEE division.
    *
    * Scale shape: one token-count shuffle over the scored corpus, one
    * vocabulary-keyed model join (model frames are corpus-vocabulary
    * sized — shuffled, never broadcast), and two 1-row broadcast
    * scalar frames (model totals, priors). */
  def nbScoreWith(docs: DataFrame, model: DataFrame,
      priors: DataFrame): DataFrame = {
    val qmodel = model.select(col("word"),
      (length(bin(col("c_p") + 1)) - 1).cast("long").as("ql_p"),
      (length(bin(col("c_n") + 1)) - 1).cast("long").as("ql_n"))
    // model totals: ONE aggregate of the vocab-sized frame → 1 row
    val qstats = model.agg(sum(col("c_p")).as("n_p"),
        sum(col("c_n")).as("n_n"), count(lit(1)).as("v"))
      .select(
        (length(bin(col("n_p") + col("v"))) - 1).cast("long").as("qd_p"),
        (length(bin(col("n_n") + col("v"))) - 1).cast("long").as("qd_n"))
    val qpriors = priors.select(
      ((length(bin(col("d_p") + 1)) - 1)
        - (length(bin(col("d_p") + col("d_n") + 2)) - 1))
        .cast("long").as("qp_p"),
      ((length(bin(col("d_n") + 1)) - 1)
        - (length(bin(col("d_p") + col("d_n") + 2)) - 1))
        .cast("long").as("qp_n"))
    docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("k"))
      .join(qmodel, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * coalesce(col("ql_p"), lit(0L))).as("s_p"),
        sum(col("k") * coalesce(col("ql_n"), lit(0L))).as("s_n"),
        sum(col("k")).as("n_tokens"))
      .join(broadcast(qstats), lit(true))
      .join(broadcast(qpriors), lit(true))
      .select(col("doc_id"), col("n_tokens"),
        (col("qp_p") + col("s_p") - col("n_tokens") * col("qd_p"))
          .as("score_p"),
        (col("qp_n") + col("s_n") - col("n_tokens") * col("qd_n"))
          .as("score_n"))
      .withColumn("pred",
        when(col("score_p") >= col("score_n"), lit("keep"))
          .otherwise(lit("drop")))
      .withColumn("margin",
        (col("score_p") - col("score_n")).cast("double")
          / col("n_tokens"))
  }

  /** The deployed composition: train on the labeled slices, score
    * every OTHER source's documents — the classifier-filter pass a
    * crawl-scale pipeline runs after generative filtering. */
  def nbClassify(docs: DataFrame, posSource: String,
      negSource: String): DataFrame = {
    val d = docs.pinnedLazy
    nbScoreWith(d.where(!col("source").isin(posSource, negSource)),
      nbModel(d, posSource, negSource),
      nbPriors(d, posSource, negSource))
  }

  /** Calibration card for the NB classifier — the margin-concentration
    * histogram read before choosing a keep threshold: per predicted
    * class, documents bucketed by the sign-split bit length of the
    * INTEGER score difference (qband 0 = exact tie, +-b = difference
    * in [2^b, 2^(b+1))) — a classifier whose mass piles at small
    * bands is barely deciding; one with long positive tails separates
    * cleanly. Exact integers end to end (the float margin never enters
    * the bucketing); one aggregate over the scored frame. */
  def nbCalibration(docs: DataFrame, posSource: String,
      negSource: String): DataFrame =
    nbClassify(docs, posSource, negSource)
      .withColumn("d", col("score_p") - col("score_n"))
      .withColumn("qband", when(col("d") === 0, lit(0L))
        .otherwise(when(col("d") > 0, lit(1L)).otherwise(lit(-1L)) *
          (length(bin(abs(col("d")))) - 1).cast("long")))
      .groupBy(col("pred"), col("qband"))
      .agg(count(lit(1)).as("n_docs"))

  /** Deterministic fixed-size per-stratum carve — n docs per source,
    * chosen uniformly-without-replacement by md5 order (the eval-set /
    * audit-sample primitive: every engine, every run, every machine
    * carves the SAME n docs, and a grown corpus only changes a
    * stratum's picks where new hashes land inside its top-n).
    * [[sampleStratified]] keeps a RATE per stratum; this keeps a
    * COUNT. The rank<=n window compiles to Spark 4's WindowGroupLimit
    * per-partition pre-trim, so a mega-stratum never funnels through
    * one partition before trimming. */
  def sampleTopN(docs: DataFrame, n: Int = 5): DataFrame = {
    require(n > 0, "n must be positive")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    docs
      .select(col("source"), col("doc_id"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit(":topn"))).as("h"))
      .withColumn("pick_rank", row_number().over(w))
      .where(col("pick_rank") <= n)
      .drop("h")
  }
}
