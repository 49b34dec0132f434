package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hyperplane-LSH similarity: sign-bucketed near-dup pairs, bucketed
  * NN serving with multiprobe, random-projection top-k, margin
  * mining and hard negatives. Split from [[EmbeddingOps]] purely
  * mechanically. */
private[graft] trait EmbLshOps { this: EmbeddingOps.type =>

  /** Embedding-cosine near-duplicate pairs above a threshold, exact
    * brute force over all ordered pairs — the verified baseline. One
    * side is broadcast (quantized vectors are compact); nothing
    * shuffles. Use [[lshNearestNeighbor]] when |corpus|^2 is the
    * bottleneck. */
  def nearDupCosineBrute(emb: DataFrame,
      threshold: Double = 0.45): DataFrame = {
    val e = quantized(emb)
    val a = e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
      col("nn").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
      col("nn").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(qdot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs via LSH bucketing — the
    * scale twin of [[nearDupCosineBrute]]: candidate pairs are
    * generated only WITHIN a hyperplane-sign bucket ([[bucketed]]), so
    * pair cost is the sum of per-bucket quadratics instead of
    * |corpus|^2 and nothing corpus-sized is broadcast or replicated.
    * Same output shape (vec_a, vec_b, cos) and the same exact-integer
    * cosine, so the result is a recall-bounded SUBSET of the brute
    * pairs: a pair surfaces iff it co-buckets (identical vectors
    * always do — equal sign patterns). EmbeddingOpsSpec pins the
    * subset relation; raise nPlanes + multi-probe to trade candidate
    * volume against recall at scale.
    *
    * Sign buckets carry the same template-spam hazard as the text LSH
    * bands (TextOps.cappedBandPairs): a vector duplicated 10⁶ times
    * co-buckets with itself in every plane, and B²/2 pair generation
    * would explode on that ONE bucket. Buckets over `bucketCap`
    * therefore route members to the bucket's min-vec hub as B-1 star
    * pairs (exact cosine still verifies each) — identical vectors all
    * pass at cos 1.0, so downstream grouping sees the same cluster
    * through the hub. At the default 8 planes the cap never triggers
    * on the synthetic corpora (max sign-bucket membership is 24 at
    * sf0.1); the 4-plane dedup row's coarse buckets DO exceed it
    * there, and its oracle mirrors the hub-star routing. */
  def nearDupCosineLsh(emb: DataFrame, threshold: Double = 0.45,
      nPlanes: Int = NPlanes, bucketCap: Int = GroupCap): DataFrame =
    pairsWithinGroup(bucketed(emb, nPlanes), "bucket", threshold,
      bucketCap)
      .drop("bucket")

  /** The embedding family's per-bucket volume bound — the
    * TextOps.BucketCap discipline applied to sign buckets. NOT used
    * by [[semanticDedup]]: a k-means cell is a broad semantic region,
    * not a duplicate cluster, so hub-star routing there would claim
    * near-duplication against one arbitrary representative; SemDeDup
    * bounds its within-cell pair cost by scaling nCentroids with the
    * corpus (the paper's own contract), which keeps cells
    * corpus-fraction-bounded by construction. */
  val GroupCap = 64

  /** Within-group candidate pairs + exact-cosine threshold — the ONE
    * pair generator behind the LSH and semantic near-dup routes (same
    * ordered-id convention, same tie-free exact-integer scoring), so
    * the two candidate-bounding strategies cannot drift in their
    * verification arithmetic. `frame` carries (groupCol, vec_id, q,
    * nn) and feeds BOTH sides of the self-join; the CALLER decides
    * whether to materialize it first (semanticDedup checkpoints its
    * window-derived cells; the LSH route keeps its lazy plan so the
    * broadcast-hint shape stays inspectable and exchange reuse covers
    * the double scan). `groupCap` bounds per-group pair volume by
    * hub-star routing (see [[nearDupCosineLsh]]); the default
    * Int.MaxValue keeps the classic all-pairs plan with no extra
    * window. */
  private[operators] def pairsWithinGroup(g: DataFrame, groupCol: String,
      threshold: Double, groupCap: Int = Int.MaxValue): DataFrame = {
    def verified(pairs: DataFrame): DataFrame = pairs
      .select(col(s"a.$groupCol").as(groupCol),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(qdot(col("a.q"), col("b.q")), col("a.nn"), col("b.nn"))
          .as("cos"))
      .where(col("cos") >= threshold)
    if (groupCap == Int.MaxValue)
      verified(g.as("a").join(g.as("b"),
        col(s"a.$groupCol") === col(s"b.$groupCol") &&
          col("a.vec_id") < col("b.vec_id")))
    else {
      // NOT pinned: this route stays a lazy plan end to end (the
      // docstring contract above — hint shape stays inspectable, a
      // checkpoint here would truncate the planes-broadcast hint out
      // of the analyzed plan); exchange reuse covers the window
      // frame's multiple consumers
      val w = Window.partitionBy(col(groupCol))
      val gx = g
        .withColumn("gn", count(lit(1)).over(w))
        .withColumn("hub", min(col("vec_id")).over(w))
      val small = gx.where(col("gn") <= groupCap)
      val allPairs = small.as("a").join(small.as("b"),
        col(s"a.$groupCol") === col(s"b.$groupCol") &&
          col("a.vec_id") < col("b.vec_id"))
      val hubs = gx.where(col("gn") > groupCap &&
        col("vec_id") === col("hub")).as("a")
      val members = gx.where(col("gn") > groupCap &&
        col("vec_id") =!= col("hub")).as("b")
      val star = hubs.join(members,
        col(s"a.$groupCol") === col(s"b.$groupCol"))
      verified(allPairs).unionByName(verified(star))
    }
  }

  private val NPlanes = 8

  /** Deterministic pseudo-random hyperplanes (random-hyperplane LSH,
    * Charikar STOC 2002): plane j's coefficient at
    * component c is (2*nibble - 15) where nibble is the c-th hex digit
    * of md5("p{j}a")||md5("p{j}b") — odd integers in [-15, 15],
    * identical in any engine with md5. nPlanes*Dim rows, broadcast.
    * `nPlanes` sizes the bucket space (2^nPlanes buckets): more planes
    * -> smaller buckets -> cheaper per-bucket pair joins but lower
    * per-bucket recall; [[lshNearestNeighborMultiprobe]] buys the
    * recall back. */
  def planes(emb: DataFrame, nPlanes: Int = NPlanes): DataFrame =
    emb.sparkSession.range(nPlanes.toLong)
      .select(col("id").cast("int").as("plane"),
        concat(md5(concat(lit("p"), col("id"), lit("a"))),
          md5(concat(lit("p"), col("id"), lit("b")))).as("hex"))
      .select(col("plane"), col("hex"),
        explode(sequence(lit(0), lit(Dim - 1))).as("c"))
      .withColumn("coef",
        (conv(expr("substring(hex, c + 1, 1)"), 16, 10).cast("long") * 2
          - 15))
      .select(col("plane"), col("c"), col("coef"))

  /** LSH bucket id per vector: bit j of the bucket is the sign of the
    * exact integer dot(q, plane_j). */
  def bucketed(emb: DataFrame, nPlanes: Int = NPlanes): DataFrame = {
    val e = quantized(emb)
    val comps = e.select(col("vec_id"),
      posexplode(col("q")).as(Seq("c", "qc")))
    val signs = comps
      .join(broadcast(planes(emb, nPlanes)), Seq("c"))
      .groupBy(col("vec_id"), col("plane"))
      .agg(sum(col("qc") * col("coef")).as("pdot"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("pdot") > 0,
        expr("cast(power(2, plane) as bigint)")).otherwise(0L))
        .as("bucket"))
    e.join(signs, Seq("vec_id"))
  }

  /** recall@k of SAME-BUCKET (single-probe) LSH search against the
    * brute top-k — the recall row the LSH route was missing next to
    * IVF/PQ/truncation/SQ8: candidates come from the query's own
    * bucket only, ranked by exact cosine; what single-probe misses is
    * the bucketing's cost, which the Hamming-1 multiprobe
    * (sim_lsh_multiprobe) buys back. A query with an empty bucket
    * neighborhood still reports its 0 row. */
  def lshRecall(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
      nPlanes: Int = NPlanes): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val b = bucketed(emb, nPlanes).pinned
    val q = b.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nn").as("qn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = b.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn"))
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, approx, k)
  }

  /** LSH-bucketed nearest neighbor: within each bucket, every vector's
    * top-1 neighbor by exact cosine (the scale path for
    * dedup-by-nearest-neighbor; singleton buckets surface with a null
    * neighbor). The CANDIDATE side is volume-capped by default: each
    * bucket contributes at most `candidateCap` prefix members (by
    * vec_id) to the scored pairs, so a mega-bucket costs B·cap, not
    * B² — every vector still answers (the query side is uncapped),
    * but a neighbor outside the bucket's candidate prefix is not
    * considered. Identical results to the uncapped join whenever
    * every bucket fits the cap (true at all oracle scales). */
  def lshNearestNeighbor(emb: DataFrame, nPlanes: Int = NPlanes,
      candidateCap: Int = GroupCap): DataFrame = {
    val b = bucketed(emb, nPlanes)
    val pairs = b.as("a").join(capCandidates(b, candidateCap).as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("nn_id"),
        cosine(qdot(col("a.q"), col("b.q")), col("a.nn"), col("b.nn"))
          .as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    val best = pairs.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
    b.select(col("vec_id"), col("bucket"))
      .join(best.select(col("vec_id"), col("nn_id"), col("cos")),
        Seq("vec_id"), "left")
  }

  /** Per-bucket CANDIDATE bound for the NN-serving routes — the
    * scoring-side twin of the pair-generation cap: every vector still
    * queries, but scores against at most `cap` candidates per probed
    * bucket (the bucket's `cap` smallest vec_ids — a deterministic
    * prefix, so results replay and oracles mirror with one
    * row_number). Without it a mega-bucket (one vector duplicated 10⁶
    * times co-buckets with itself in every plane) costs B² scored
    * pairs; with it the cost is B·cap, and the spam case keeps its
    * exact answer (every prefix member of an identical-vector bucket
    * scores cos 1.0). Borderline vectors in an oversized MIXED bucket
    * may miss a non-prefix neighbor — the documented recall trade,
    * bought back the same way as bucket coarseness (raise nPlanes /
    * multiprobe). The row_number pre-trims via WindowGroupLimit, so
    * the bound is enforced before any scoring join. */
  private def capCandidates(b: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("vec_id").asc)
    b.withColumn("crk", row_number().over(w))
      .where(col("crk") <= cap).drop("crk")
  }

  /** Multi-probe LSH nearest neighbor (after Lv et al., "Multi-probe
    * LSH: efficient indexing for high-dimensional similarity search",
    * VLDB 2007, restricted to the deterministic Hamming-1 probe set):
    * each vector searches its own bucket PLUS the nPlanes buckets at
    * Hamming distance 1 (one sign bit flipped) — the buckets a
    * borderline vector most likely fell into. Candidate volume grows
    * (nPlanes+1)x while recall approaches a coarser single-probe
    * table's; at scale this is the standard way to RAISE nPlanes
    * (shrinking buckets, and per-bucket quadratic pair cost) without
    * losing neighbors — the fix for the fixed-8-planes limitation.
    * A candidate lives in exactly one bucket, so probe targets are
    * distinct and no pair is scored twice. Singleton-probe-space
    * vectors surface with a null neighbor like [[lshNearestNeighbor]]
    * — whose per-bucket `candidateCap` prefix bound (and its
    * exact-under-the-cap contract) applies here too. */
  def lshNearestNeighborMultiprobe(emb: DataFrame,
      nPlanes: Int = NPlanes, candidateCap: Int = GroupCap): DataFrame = {
    val b = bucketed(emb, nPlanes).pinned
    val probeCols = col("bucket") +:
      (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val probes = b.select(col("vec_id"), col("q"), col("nn"),
      col("bucket"), explode(array(probeCols: _*)).as("pb"))
    val cand = capCandidates(b, candidateCap)
      .select(col("vec_id").as("nn_id"), col("q").as("cq"),
        col("nn").as("cn"), col("bucket").as("cb"))
    val pairs = probes.join(cand,
        col("pb") === col("cb") && col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("bucket"), col("nn_id"),
        cosine(qdot(col("q"), col("cq")), col("nn"), col("cn"))
          .as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    val best = pairs.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
    b.select(col("vec_id"), col("bucket"))
      .join(best.select(col("vec_id"), col("nn_id"), col("cos")),
        Seq("vec_id"), "left")
  }

  /** Signed-random-projection sketch of the corpus: each vector
    * becomes its `nProj` exact integer dot products against the
    * deterministic hyperplane matrix ([[planes]] — the same ±odd
    * coefficients LSH bucketing signs, kept UNSIGNED here as a dense
    * low-dimensional sketch). Johnson-Lindenstrauss in the cheapest
    * integer form: 64 dims fold to `nProj`, preserving cosine
    * geometry approximately, exactly replayable cross-engine. Only
    * the (nProj x dim) plane matrix broadcasts. */
  private def projected(e: DataFrame, nProj: Int): DataFrame =
    e.select(col("vec_id"), col("label"),
        posexplode(col("q")).as(Seq("c", "qc")))
      .join(broadcast(planes(e, nProj)), Seq("c"))
      .groupBy(col("vec_id"), col("label"), col("plane"))
      .agg(sum(col("qc") * col("coef")).as("pc"))
      .groupBy(col("vec_id"), col("label"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(plane, pc))), r -> r.pc)")
        .as("p"))
      .withColumn("pn",
        aggregate(col("p"), lit(0L), (acc, x) => acc + x * x))

  /** Brute top-k in the PROJECTED space — the dimensionality-reduced
    * serving path (scan cost scales with nProj instead of dim; the
    * price is recall, measured by [[projRecall]]). Same serving shape
    * as [[annTopK]]: bounded query frame broadcast, one corpus scan,
    * pre-trimmed per-query windows. */
  def projTopK(emb: DataFrame, nProj: Int = 16, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val pr = projected(quantized(emb), nProj).pinned
    val q = pr.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("p").as("qv"),
        col("pn").as("qn"))
    val scored = pr.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qv"), col("p")), col("qn"), col("pn")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }

  /** recall@k of the projected-space ranking against the exact
    * full-dimension brute top-k — the JL sketch ships with its recall
    * measurement like every other approximate route. */
  def projRecall(emb: DataFrame, nProj: Int = 16, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val pr = projected(e, nProj).pinned
    val q = pr.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("p").as("qv"),
        col("pn").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = pr.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(qdot(col("qv"), col("p")), col("qn"), col("pn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, approx, k)
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix bitext-mining criterion): a candidate pair (x, y)
    * scores by its cosine RELATIVE to each side's neighborhood —
    *
    *   margin(x,y) = cos(x,y) / (avg_{z in NNk(x)} cos(x,z)
    *                             + avg_{z in NNk(y)} cos(y,z))
    *
    * — which suppresses hubs (vectors close to everything) that
    * absolute-threshold mining over-selects. A pair is MINED when each
    * side is the other's margin-argmax (mutual best), the
    * forward+backward intersection the paper recommends.
    *
    * Cross-engine determinism: each cosine (one IEEE division of
    * exact integers) quantizes to micro-units cq = floor(cos*1e6)
    * BEFORE any sum, so neighborhood sums are exact BIGINTs and the
    * margin is one integral division,
    * margin_q = cq*2k*1000 div (sum_topk_x + sum_topk_y) — permille
    * of the paper's ratio. Pairs with non-positive cosine never mine,
    * and the margin denominator must be positive: the gate is on the
    * SUMMED neighborhood mass (sum_a + sum_b > 0), so one side's
    * negative neighborhood sum is tolerated when the other side's
    * mass outweighs it — the combined-mass denominator is what the
    * ratio divides by, so that is what must clear zero.
    *
    * The two sides here are the even/odd vec_id halves (standing in
    * for the two languages of a bitext run). This is the BRUTE
    * baseline: one side broadcast, like [[nearDupCosineBrute]] — the
    * scale path swaps the candidate cross-join for any bucketed
    * generator ([[bucketed]] co-bucket pairs, [[ivfTopKWith]]
    * probe-cell candidates) and keeps everything downstream, since
    * top-k sums, margins, and the mutual-best windows are all keyed
    * per-vector (WindowGroupLimit pre-trims, no global sort). */
  def marginMine(emb: DataFrame, kNn: Int = 4): DataFrame = {
    require(kNn > 0, "kNn must be positive")
    val e = quantized(emb).pinned
    val a = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("nn").as("na"))
    val b = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("nn").as("nb"))
    val scored = a.join(broadcast(b))
      .select(col("vec_a"), col("vec_b"),
        floor(cosine(qdot(col("qa"), col("qb")), col("na"), col("nb"))
          * 1000000L).as("cq"))
    mineMargins(scored, kNn)
  }

  /** The scale twin of [[marginMine]]: candidate pairs come from
    * hyperplane co-bucketing ([[bucketed]]) instead of the full
    * cross — the standard ANN approximation of the margin criterion
    * (neighborhood sums run over the CANDIDATES each side actually
    * sees, exactly as a FAISS-backed LASER miner approximates them
    * over retrieved neighbors). Nothing corpus-sized broadcasts: the
    * plane matrix is the one broadcast (nPlanes x dim by
    * construction), candidates join by a keyed shuffle on `bucket`,
    * and everything downstream of the candidate frame is shared with
    * the brute baseline — identical margins whenever the bucket
    * recall captures the same candidate sets (identical vectors
    * always co-bucket). */
  def marginMineLsh(emb: DataFrame, kNn: Int = 4,
      nPlanes: Int = NPlanes): DataFrame = {
    require(kNn > 0, "kNn must be positive")
    val bk = bucketed(emb, nPlanes).pinned
    val a = bk.where(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("q").as("qa"), col("nn").as("na"))
    val b = bk.where(col("vec_id") % 2 === 1)
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("q").as("qb"), col("nn").as("nb"))
    val scored = a.join(b, Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        floor(cosine(qdot(col("qa"), col("qb")), col("na"), col("nb"))
          * 1000000L).as("cq"))
    mineMargins(scored, kNn)
  }

  /** Shared back half of the margin miners: neighborhood top-k sums
    * per side, permille margin by one integral division, mutual-best
    * intersection. Every stage is keyed per-vector — the rank<=k
    * windows pre-trim per partition (WindowGroupLimit), the sums and
    * argmax joins shuffle on vec_a/vec_b — so the back half scales
    * with the CANDIDATE count regardless of how candidates were
    * generated. */
  private def mineMargins(scoredPairs: DataFrame, kNn: Int): DataFrame = {
    val scored = scoredPairs.pinned
    val wa = Window.partitionBy(col("vec_a"))
      .orderBy(col("cq").desc, col("vec_b").asc)
    val sumA = scored.withColumn("rk", row_number().over(wa))
      .where(col("rk") <= kNn)
      .groupBy(col("vec_a")).agg(sum(col("cq")).as("sum_a"))
    val wb = Window.partitionBy(col("vec_b"))
      .orderBy(col("cq").desc, col("vec_a").asc)
    val sumB = scored.withColumn("rk", row_number().over(wb))
      .where(col("rk") <= kNn)
      .groupBy(col("vec_b")).agg(sum(col("cq")).as("sum_b"))
    val margins = scored
      .join(sumA, Seq("vec_a")).join(sumB, Seq("vec_b"))
      .where(col("cq") > 0 && col("sum_a") + col("sum_b") > 0)
      .withColumn("margin_q",
        expr(s"cq * ${2L * kNn} * 1000 div (sum_a + sum_b)"))
      .select(col("vec_a"), col("vec_b"), col("cq"), col("margin_q"))
      .pinned
    val bestFwd = margins.withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_a"))
          .orderBy(col("margin_q").desc, col("vec_b").asc)))
      .where(col("rk") === 1).drop("rk")
    val bestBwd = margins.withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_b"))
          .orderBy(col("margin_q").desc, col("vec_a").asc)))
      .where(col("rk") === 1)
      .select(col("vec_a"), col("vec_b"))
    bestFwd.join(bestBwd, Seq("vec_a", "vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cq"), col("margin_q"))
  }

  /** Contrastive hard-negative mining — for each query vector, the k
    * most-similar vectors with a DIFFERENT label (the negatives that
    * sit closest to the decision boundary, the standard pick for
    * contrastive/embedding training batches: random negatives are too
    * easy to carry gradient). Same serving shape as [[annTopK]] —
    * query side bounded by nQueries and broadcast, corpus scanned
    * once, per-query top-k via a pre-trimmed window — with the label
    * inequality folded into the join predicate so same-label rows
    * never leave the scan. */
  def hardNegatives(emb: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val e = quantized(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("q").as("qv"), col("nn").as("qn"))
    val scored = e.join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }
}
