package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization family: codebooks (seed + trained), ADC
  * serving, persisted codes, the IVF-PQ composite with exact re-rank.
  * Split from [[EmbeddingOps]] purely mechanically. */
private[graft] trait EmbPqOps { this: EmbeddingOps.type =>

  /** [[ivfIndexCompact]] for the PQ codes layout (flat segments). */
  def pqIndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String): Int =
    compactSegments(s, path, "codes", Seq("codebooks"),
      df => df.write.mode("overwrite"))

  /** [[ivfIndexCompact]] for the IVF-PQ layout (cell-partitioned code
    * segments; BOTH quantizer tables carry over verbatim). */
  def ivfpqIndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String): Int =
    compactSegments(s, path, "codes", Seq("centroids", "codebooks"),
      df => df.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite"))

  /** [[ivfIndexCompactTail]] for the PQ code layout. */
  def pqIndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int =
    tailCompactSegments(s, path, "codes",
      df => df.write.mode("overwrite"),
      maxSegments = maxSegments, failpoint = failpoint)

  /** [[ivfIndexCompactTail]] for the IVF-PQ layout. */
  def ivfpqIndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int =
    tailCompactSegments(s, path, "codes",
      df => df.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite"),
      maxSegments = maxSegments, failpoint = failpoint)

  /** [[ivfIndexMaintain]] for the PQ root. */
  def pqIndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    maintainIndexWith(s, path, maxSegments)(
      pqIndexCompactTail(s, path, maxSegments))(
      pqIndexCompact(s, path))

  /** [[ivfIndexMaintain]] for the IVF-PQ root. */
  def ivfpqIndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    maintainIndexWith(s, path, maxSegments)(
      ivfpqIndexCompactTail(s, path, maxSegments))(
      ivfpqIndexCompact(s, path))

  private val PqM = 4

  private def PqSubDim = Dim / PqM // def, not val: Dim lives in the object body, which initializes AFTER the traits

  /** Every vector's M sub-slices: (vec_id, sub, sq) — the shared
    * entry of the PQ pipeline (codebooks, encode, LUT, training). */
  private def subSlices(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("q"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(q, sub * $PqSubDim + 1, $PqSubDim)").as("sq"))

  /** Per-subspace PQ codebooks (product quantization, Jegou et al.
    * TPAMI 2011 §II): the 64-dim space splits into M=4 subspaces of 16
    * components; subspace s's codebook is the s-slices of the first
    * `kc` corpus vectors (the same deterministic seeding as
    * [[seedCentroids]] — [[pqTrainCodebooks]] refines them). Emits
    * (sub, code, cq, cn) — kc*M rows, always broadcast. */
  def pqCodebooks(e: DataFrame, kc: Int = 16): DataFrame =
    subSlices(e.where(col("vec_id") < kc))
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("sq").as("cq"))
      .withColumn("cn", aggregate(col("cq"), lit(0L), (a, x) => a + x * x))

  /** PQ encoding: each vector's code in subspace s is the codeword
    * minimizing exact-integer L2 distance to its s-slice. The
    * vector-side norm is constant within the argmin, so only
    * (cn - 2*dot) is ranked (ties -> smallest code). The argmin is a
    * map-side-combinable min(struct(...)) — the shuffle carries M
    * compact rows per vector, never the kc candidate rows. */
  def pqEncode(e: DataFrame, kc: Int = 16): DataFrame =
    pqEncodeWith(e, pqCodebooks(e, kc))

  private def pqEncodeWith(e: DataFrame, cb: DataFrame): DataFrame =
    subSlices(e)
      .join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct((col("cn") - lit(2L) * qdot(col("sq"), col("cq")))
          .as("d2c"), col("code")).as("cand"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** Per-subspace Lloyd training of the PQ codebooks — the PQ twin of
    * [[kmeansCentroids]], with the L2 assignment the encoder uses
    * ([[pqEncodeWith]]) instead of cosine: each round re-encodes the
    * corpus against the current codebooks and recomputes every
    * (sub, code) cell as the per-component mean of its members,
    * RE-QUANTIZED to integer milli-units (round-half-away, identical
    * in Spark and DuckDB) so every round stays in the exact-integer
    * domain and the loop is oracle-checkable. Cells that lose all
    * members drop out (standard Lloyd degeneracy).
    *
    * Scale shape per round: codebooks broadcast, one corpus encode
    * pass, one (vec_id, sub)-keyed join to re-attach slices, component
    * sums map-side-combined on (sub, code, c); the new codebook
    * (<= M*kc rows) is pinned (Stage.pinned) so round t+1 does not
    * re-derive round t. */
  def pqTrainCodebooks(e: DataFrame, kc: Int = 16,
      iters: Int = 2): DataFrame = {
    val subs = subSlices(e)
    var cb = pqCodebooks(e, kc).pinned
    for (_ <- 0 until iters) {
      cb = pqEncodeWith(e, cb)
        .join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("sq")).as(Seq("c", "v")))
        .groupBy(col("sub"), col("code"), col("c"))
        .agg(round(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("mq"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("c"), col("mq")))),
          x => x.getField("mq")).as("cq"))
        .withColumn("cn",
          aggregate(col("cq"), lit(0L), (a, x) => a + x * x))
        .pinned
    }
    cb
  }

  /** PQ quantization objective: the corpus sum of exact-integer
    * squared L2 distance to each sub-slice's assigned codeword — what
    * [[pqTrainCodebooks]] descends. One row; specs pin that training
    * never worsens the seed (per-step monotonicity is NOT guaranteed
    * under the integer re-quantization, same caveat as
    * [[kmeansObjective]]). */
  def pqObjective(e: DataFrame, cb: DataFrame): DataFrame =
    subSlices(e)
      .withColumn("xn", aggregate(col("sq"), lit(0L), (a, x) => a + x * x))
      .join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        (col("xn") + col("cn") - lit(2L) * qdot(col("sq"), col("cq")))
          .as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("d2")).as("best_d2"))
      .agg(sum(col("best_d2")).as("inertia"),
        count(lit(1)).as("n_assignments"))

  /** PQ top-k by asymmetric distance computation (ADC): the query
    * precomputes exact-integer dots against every codeword (a
    * nQueries*M*kc lookup table, broadcast), and each corpus vector is
    * scored as the SUM of M table lookups on its codes — the corpus is
    * touched only through its M-byte-scale codes, never its vectors.
    * Scores are exact integers (adot), so ranking is deterministic
    * (ties -> smallest vec_id) and the oracle replays the whole
    * pipeline. Scale shape: codebooks + LUT broadcast, one encode pass
    * over the corpus, one map-side-combined (query, vec) sum, top-k
    * window over nQueries partitions. */
  def pqTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
      kc: Int = 16): DataFrame =
    pqTopKQ(quantized(emb).pinned, nQueries, k, kc)

  /** [[pqTopK]] over an already-[[quantized]] (and ideally
    * checkpointed) frame — lets [[pqRecall]] share one quantization
    * scan with the brute baseline. */
  def pqTopKQ(e: DataFrame, nQueries: Int = 5, k: Int = 10,
      kc: Int = 16): DataFrame =
    pqTopKWith(e, pqCodebooks(e, kc), nQueries, k)

  /** [[pqTopK]] against an EXPLICIT codebook frame (sub, code, cq, cn)
    * — the serving half once trained codebooks exist
    * ([[pqTrainCodebooks]]); [[pqTopKQ]] is the seed special case. */
  def pqTopKWith(e: DataFrame, cb: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val codes = pqEncodeWith(e, cb)
    val lut = subSlices(e.where(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sq").as("qs"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        qdot(col("qs"), col("cq")).as("pdot"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adot"))
  }

  /** Persist a PQ index — the compressed twin of [[ivfIndexWrite]]:
    * codebooks are fixed once (seed, or [[pqTrainCodebooks]] when
    * `iters` > 0), every vector is encoded ONCE against the READ-BACK
    * codebook table, and only the CODES land on disk (`$path/codes`:
    * vec_id, sub, code — M small integers per vector, the entire
    * point of product quantization: the persisted index is ~1/64th
    * the vector data and serving never touches a vector again).
    * Layout: `$path/codebooks` (sub, code, cq, cn — kc*M rows,
    * broadcast-safe by construction), `$path/codes/seg=N` segment
    * directories, and the `$path/_segs` generation manifest. The
    * rebuild stages the whole tree and swaps it in (the
    * [[ivfIndexWrite]] protocol — crash-atomic, immune to
    * partitionOverwriteMode). */
  def pqIndexWrite(emb: DataFrame, path: String, kc: Int = 16,
      iters: Int = 0): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val e = quantized(emb).pinned
    val cb = if (iters == 0) pqCodebooks(e, kc)
      else pqTrainCodebooks(e, kc, iters)
    cb.write.mode("overwrite").parquet(s"$tmp/codebooks")
    val saved = s.read.parquet(s"$tmp/codebooks")
    pqEncodeWith(e, saved)
      .write.mode("overwrite").parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp) // a rebuild expires + retires
  }

  /** Append a NEW batch to a persisted PQ index — the compressed
    * twin of [[ivfIndexAppend]], same contract: codebooks are fixed
    * at build time (re-training would silently re-code existing
    * entries), the batch encodes against the READ-BACK codebooks and
    * lands as one new code segment — O(batch) IO, CRASH-ATOMIC via
    * the segment protocol (stage hidden → rename → manifest commit;
    * a kill anywhere leaves serving unchanged and a re-run completes
    * the append). vec_ids must be new; one appender at a time. */
  def pqIndexAppend(emb: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = emb.sparkSession
    val saved = s.read.parquet(s"$path/codebooks")
    val codes = pqEncodeWith(quantized(emb), saved)
    appendSegment(s, path, "codes",
      staged => codes.write.mode("overwrite").parquet(staged),
      failpoint, stamp)
  }

  /** Serve top-k from a PERSISTED PQ index ([[pqIndexWrite]]):
    * queries slice into subspaces and build the ADC lookup table
    * against the stored codebooks (kc*M*queries rows, broadcast by
    * construction); the stored CODES join the LUT on (sub, code) and
    * sum — asymmetric-distance scoring that reads only the code
    * table, never corpus vectors. Candidates with vec_id == query_id
    * are excluded (the [[pqTopKWith]] convention). With `asOf`, the
    * code segments and tombstones pin to the snapshot's capture-time
    * view; the codebooks sidecar only changes on epoch-bumping swaps,
    * so it is stable over any live snapshot. */
  def pqTopKIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int = 10,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    val cb = localizedMeta(s, base, "codebooks")
    val codes = s.read.parquet(s"$base/codes")
      .where(segFilter(s, base, asOf)) // committed segments only
      .drop("seg")
      .join(tombstones(s, base, asOf = asOf), Seq("vec_id"), "left_anti")
    val lut = subSlices(quantized(queries))
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sq").as("qs"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        qdot(col("qs"), col("cq")).as("pdot"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adot"))
  }

  // ---- IVF-PQ composite (IVFADC) ---------------------------------------
  // The two persisted structures composed the way billion-scale ANN
  // systems actually ship (Jegou et al. TPAMI 2011 §III, the faiss
  // IVFPQ structure): the coarse quantizer bounds WHICH candidates are
  // touched (nProbe cells), and product quantization of the RESIDUAL
  // (vector minus its cell centroid) bounds BYTES PER CANDIDATE (M
  // small codes). Under the inner-product metric the score decomposes
  // exactly: dot(q, c + r) = dot(q, cell centroid) + dot(q, residual),
  // and the residual term is served by M ADC table lookups — so a
  // probe reads no corpus vector, only cell-partitioned code rows.

  /** Coarse-assigned residual view of the corpus: every vector keyed
    * by its nearest-centroid cell (the [[rankedAgainst]] rule) with
    * the EXACT integer residual q - cq as its new `q`. Residuals stay
    * in the quantized-integer domain, so the whole PQ machinery
    * ([[pqCodebooks]], [[pqEncodeWith]]) reuses verbatim and the
    * composite remains oracle-replayable. Centroids are
    * centroid-cardinality — always broadcast; the corpus is scanned
    * once and never shuffled here. */
  private def residualized(e: DataFrame, cents: DataFrame): DataFrame =
    assignedCells(e, cents)
      .select(col("vec_id"), col("q"),
        col("cent_id").cast("int").as("cell"))
      .join(broadcast(cents.select(col("cent_id").cast("int").as("cell"),
        col("cq"))), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("q"), col("cq"), (a, b) => a - b).as("q"))

  /** Query-side probe frame (query_id, cell, cdot): each query ranked
    * against the centroids, top `nProbe` cells kept, and the EXACT
    * integer dot(query, centroid) attached — the coarse half of the
    * decomposed IVFADC score. Output is |queries| * nProbe rows. */
  private def ivfpqProbes(qe: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame =
    probedCells(qe, cents, nProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("cent_id").cast("int").as("cell"))
      .join(broadcast(cents.select(col("cent_id").cast("int").as("cell"),
        col("cq"))), Seq("cell"))
      .select(col("query_id"), col("cell"),
        qdot(col("qv"), col("cq")).as("cdot"))

  /** ADC scoring tail shared by the live ([[ivfpqTopK]]) and persisted
    * ([[ivfpqTopKIndexed]]) routes: the query LUT (raw query
    * sub-slices x residual codewords — |queries|*M*kc rows, broadcast
    * by construction) joins the candidate code rows cell-first, and
    * each candidate's score is cdot + the sum of its M lookups. All
    * integer, ties -> smallest vec_id — deterministic and replayable.
    * The codes side is the only corpus-sized frame and it is joined
    * against two BROADCAST frames then map-side-combined on
    * (query_id, vec_id) — no corpus shuffle. */
  private def ivfpqAdc(probes: DataFrame, qe: DataFrame, cb: DataFrame,
      codes: DataFrame, k: Int): DataFrame = {
    val lut = subSlices(qe)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sq").as("qs"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        qdot(col("qs"), col("cq")).as("pdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("vec_id").asc)
    codes.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      // cdot is constant within the group (a vector lives in exactly
      // one cell); min() just carries it through the aggregate
      .agg((min(col("cdot")) + sum(col("pdot"))).as("adot"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adot"))
  }

  /** IVF-PQ top-k (IVFADC), live path: coarse-assign + residual-encode
    * the corpus, then serve the first `nQueries` vectors against it.
    * Scale shape: centroids, codebooks, probes, and LUT are all
    * bounded by construction parameters and broadcast; the corpus is
    * touched by one assignment scan, one encode pass, and the ADC
    * join — never shuffled by key. */
  def ivfpqTopK(emb: DataFrame, nCentroids: Int = KmSeeds,
      kc: Int = 16, nQueries: Int = 5, nProbe: Int = 2,
      k: Int = 10): DataFrame = {
    val e = quantized(emb).pinned
    val cents = seedCentroids(e, nCentroids)
    val res = residualized(e, cents).pinned
    val cb = pqCodebooks(res, kc)
    val codes = pqEncodeWith(res, cb)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
    ivfpqAdc(ivfpqProbes(e.where(col("vec_id") < nQueries), cents,
        nProbe), e.where(col("vec_id") < nQueries), cb, codes, k)
  }

  /** Persist an IVF-PQ index: `$path/centroids` (coarse quantizer),
    * `$path/codebooks` (residual PQ codewords), and
    * `$path/codes/seg=N/cell=C` — M small integers per vector,
    * partitioned by coarse cell so serving prunes BOTH dimensions
    * statically (committed segments x probed cells). Both quantizer
    * tables are read back before any encoding, so index files can
    * never drift from what serving loads; the rebuild stages the
    * whole tree and swaps it in (crash-atomic, immune to
    * partitionOverwriteMode). */
  def ivfpqIndexWrite(emb: DataFrame, path: String,
      nCentroids: Int = KmSeeds, kc: Int = 16): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val e = quantized(emb).pinned
    seedCentroids(e, nCentroids).write.mode("overwrite")
      .parquet(s"$tmp/centroids")
    val savedCents = s.read.parquet(s"$tmp/centroids")
    val res = residualized(e, savedCents).pinned
    pqCodebooks(res, kc).write.mode("overwrite")
      .parquet(s"$tmp/codebooks")
    val savedCb = s.read.parquet(s"$tmp/codebooks")
    pqEncodeWith(res, savedCb)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp) // a rebuild expires + retires
  }

  /** Append a NEW batch to a persisted IVF-PQ index: the batch is
    * coarse-assigned against the STORED centroids and residual-encoded
    * against the STORED codebooks (both quantizers fixed at build
    * time — the faiss `add` contract), landing as one new
    * cell-partitioned code segment. O(batch) IO, CRASH-ATOMIC via the
    * segment protocol. vec_ids must be new; one appender at a time. */
  def ivfpqIndexAppend(emb: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = emb.sparkSession
    val cents = s.read.parquet(s"$path/centroids")
    val cb = s.read.parquet(s"$path/codebooks")
    val res = residualized(quantized(emb), cents).pinned
    val codes = pqEncodeWith(res, cb)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .repartition(col("cell"))
    appendSegment(s, path, "codes",
      staged => codes.write.partitionBy("cell")
        .mode("overwrite").parquet(staged),
      failpoint, stamp)
  }

  /** Persist an IVF-PQ index whose quantizers come from an EXISTING
    * root instead of training — the shard-parallel build half of
    * [[ivfpqIndexMerge]] (the faiss clone-then-`add` pattern): train
    * ONCE into a trainer root via [[ivfpqIndexWrite]] (a sample, or a
    * dedicated training slice), then build every corpus shard under
    * the SAME stored centroids and codebooks in its own job — no
    * writer contention, no single-maintainer window to serialize
    * through — and stitch the quantizer-identical shard roots with
    * the merge. The tables are COPIED byte-for-byte into the staged
    * tree (an index stays self-contained; serving never reaches back
    * to the trainer root) and read back from it before any encoding —
    * the same index-files-match-what-serving-loads discipline as
    * [[ivfpqIndexWrite]]. Encoding is per-row deterministic
    * (min-struct tie-breaks), so a shard's codes are identical to the
    * rows a full build under the same quantizers would produce. */
  def ivfpqIndexWriteWith(emb: DataFrame, path: String,
      quantizerFrom: String): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    Seq("centroids", "codebooks").foreach { mn =>
      val from = new org.apache.hadoop.fs.Path(quantizerFrom, mn)
      require(fs.exists(from),
        s"no $mn table at $quantizerFrom — not an IVF-PQ root")
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
        new org.apache.hadoop.fs.Path(tmp, mn), false, false,
        s.sparkContext.hadoopConfiguration)
    }
    val savedCents = s.read.parquet(s"$tmp/centroids")
    val savedCb = s.read.parquet(s"$tmp/codebooks")
    val res = residualized(quantized(emb), savedCents).pinned
    pqEncodeWith(res, savedCb)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp)
  }

  /** Merge shard-parallel IVF-PQ roots into one serving root —
    * [[mergeRoots]] for the ANN family: code segments renumber by
    * manifest surgery (cell partition dirs ride inside them, so the
    * serve's static (seg, cell) pruning is untouched), the quantizer
    * tables carry from the first source, and the merge REFUSES unless
    * every source's centroids AND codebooks are content-identical —
    * codes encoded against different codewords would make the merged
    * ADC scores meaningless. Quantizer-identical shards come from
    * [[ivfpqIndexWriteWith]] over one trainer root. CONSUMES the
    * sources; vec_id domains must be disjoint across them. */
  def ivfpqIndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    mergeRoots(s, sources, dest, Seq("codes"),
      Seq("centroids", "codebooks"),
      validate =
        requireEqualMetaTables(s, _, Seq("centroids", "codebooks")),
      failpoint = failpoint)

  /** [[ivfpqIndexWriteWith]] for the plain PQ family: shards encode
    * against an existing root's codebooks (copied byte-for-byte into
    * the staged tree, read back before encoding) instead of
    * training. */
  def pqIndexWriteWith(emb: DataFrame, path: String,
      quantizerFrom: String): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val from = new org.apache.hadoop.fs.Path(quantizerFrom, "codebooks")
    require(fs.exists(from),
      s"no codebooks table at $quantizerFrom — not a PQ root")
    org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
      new org.apache.hadoop.fs.Path(tmp, "codebooks"), false, false,
      s.sparkContext.hadoopConfiguration)
    pqEncodeWith(quantized(emb), s.read.parquet(s"$tmp/codebooks"))
      .write.mode("overwrite").parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp)
  }

  /** [[ivfpqIndexMerge]] for the plain PQ family: code segments
    * renumber by manifest surgery; codebooks must be content-equal
    * across sources ([[pqIndexWriteWith]] shards). CONSUMES the
    * sources; vec_id domains must be disjoint. */
  def pqIndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    mergeRoots(s, sources, dest, Seq("codes"), Seq("codebooks"),
      validate = requireEqualMetaTables(s, _, Seq("codebooks")),
      failpoint = failpoint)

  /** Serve top-k from a PERSISTED IVF-PQ index ([[ivfpqIndexWrite]]):
    * queries rank against the stored centroids, the probed-cell set
    * (bounded by nCentroids BY CONSTRUCTION) is collected and pushed
    * as a literal `cell IN (...)` — a STATIC partition filter next to
    * the committed-segment filter, so serve IO is the probed cells'
    * CODE rows only: |corpus| * nProbe / nCentroids rows of M small
    * integers, never a corpus vector. */
  def ivfpqTopKIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, nProbe: Int = 2,
      k: Int = 10, asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    // quantizer tables as cached LOCAL relations ([[localizedMeta]]):
    // fixed for the index incarnation, so their broadcasts build
    // driver-side with no scan job per serve
    val cents = localizedMeta(s, base, "centroids")
    val cb = localizedMeta(s, base, "codebooks")
    val qe = quantized(queries).pinned
    // the probe frame is |queries| * nProbe BY CONSTRUCTION — the
    // bound that already justified broadcasting it. Collect it ONCE
    // and re-emit as a local relation (the batched-BM25 LocalRelation
    // discipline): one job replaces the pin job + the cell-set
    // collect job, and the ADC tail's broadcast of it becomes free
    val probePlan = ivfpqProbes(qe, cents, nProbe)
    val probeRows = probePlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePlan.schema)
    val cellIdx = probePlan.schema.fieldIndex("cell")
    val probedCells = probeRows.map(_.getInt(cellIdx)).distinct
    // asOf pins the committed-segment IN and the tombstone set to the
    // snapshot's view ([[indexSnapshot]]): appends and deletes after
    // capture are invisible, so a recorded training read replays
    // bit-identically. The centroids/codebooks need no pinning — the
    // quantizers are fixed at build time, and any rebuild that would
    // replace them bumps the epoch (the pinned filters refuse first).
    val codes = s.read.parquet(s"$base/codes")
      .where(segFilter(s, base, asOf) &&
        col("cell").isin(probedCells.map(Int.box): _*))
      .drop("seg")
      .join(tombstones(s, base, "vec_id", asOf), Seq("vec_id"),
        "left_anti")
    ivfpqAdc(probes, qe, cb, codes, k)
  }

  /** Exact re-scoring tail shared by the persisted
    * ([[ivfpqTopKRerank]]) and live ([[ivfpqRerankRecall]]) rerank
    * routes: candidate (query_id, vec_id) pairs join the exact
    * vectors, score by the same exact-integer cosine as the brute
    * baseline, and keep top-k per query. The candidate frame is
    * bounded BY CONSTRUCTION (rerankR x |queries|) and broadcast, so
    * the corpus-sized vector frame is filtered in a broadcast-hash
    * join — scanned once, never shuffled; the top-k window shuffles
    * only candidate-mass (query_id, vec_id, cos) rows. */
  private def exactRerank(cand: DataFrame, qe: DataFrame,
      vecs: DataFrame, k: Int): DataFrame = {
    val q = qe.select(col("vec_id").as("query_id"), col("q").as("qv"),
      col("nn").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    vecs.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn"))
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
  }

  /** Two-stage IVF-PQ serving: ADC top-`rerankR` candidates from the
    * persisted IVF-PQ index, re-scored EXACTLY against the vectors
    * stored in a persisted IVF index's inverted lists, top-k emitted
    * by exact cosine — the standard production refinement (faiss
    * IndexRefine / ADC re-rank): the compressed index bounds which
    * candidates are touched, the exact pass removes the residual
    * quantization's ranking error among them. Both indexes are built
    * from the same corpus (the vec_id -> vector mapping is shared),
    * and tombstones on either index mask its half. Serve-time IO:
    * the ADC stage's statically pruned code rows plus ONE pass over
    * the lists filtered by the broadcast candidate set — the exact
    * vectors never shuffle, and everything broadcast (probes, LUT,
    * candidates, queries) is bounded by construction parameters. */
  def ivfpqTopKRerank(s: org.apache.spark.sql.SparkSession,
      pqPath: String, vecPath: String, queries: DataFrame,
      nProbe: Int = 2, rerankR: Int = 30, k: Int = 10): DataFrame = {
    require(rerankR >= k, s"rerankR ($rerankR) must be >= k ($k)")
    // the vector index's tombstones mask the CANDIDATE ids, not the
    // stored rows: same result (vec_id is the join key either way),
    // but the anti-join shuffles only the bounded (query_id, vec_id)
    // frame — never the exact-vector rows (probe-pinned)
    val cand = ivfpqTopKIndexed(s, pqPath, queries, nProbe, rerankR)
      .select(col("query_id"), col("vec_id"))
      .join(tombstones(s, vecPath), Seq("vec_id"), "left_anti")
    val stored = s.read.parquet(s"$vecPath/lists")
      .where(segFilter(s, vecPath)).drop("seg")
      .select(col("vec_id"), col("q"), col("nn"))
    exactRerank(cand, quantized(queries), stored, k)
  }

  /** recall@k of ADC-only vs ADC+exact-re-rank at the SAME candidate
    * budget R — the measurement that justifies the second stage: both
    * arms read identical top-R ADC candidates, one keeps the ADC
    * order, the other re-scores exactly; each arm's overlap with the
    * exact brute top-k rides one row per query. recall_rerank >=
    * recall_adc whenever ADC's ranking error (not coarse pruning)
    * caused the misses — the lift is the quantization error the
    * refinement pays for itself with. */
  def ivfpqRerankRecall(emb: DataFrame, nCentroids: Int = KmSeeds,
      kc: Int = 16, nQueries: Int = 5, nProbe: Int = 2,
      rerankR: Int = 30, k: Int = 10): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val adcR = ivfpqTopK(emb, nCentroids, kc, nQueries, nProbe, rerankR)
      .select(col("query_id"), col("rk"), col("vec_id"))
      .pinned // both arms read the same candidate set
    val adcK = adcR.where(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    val rer = exactRerank(adcR.select(col("query_id"), col("vec_id")),
        e.where(col("vec_id") < nQueries),
        e.select(col("vec_id"), col("q"), col("nn")), k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, adcK, k)
      .withColumnRenamed("n_overlap", "n_adc")
      .withColumnRenamed("recall_at_k", "recall_adc")
      .join(recallVsBrute(brute, rer, k)
        .withColumnRenamed("n_overlap", "n_rerank")
        .withColumnRenamed("recall_at_k", "recall_rerank"),
        Seq("query_id"))
  }

  /** recall@k of the IVF-PQ composite against the exact brute top-k —
    * the fifth approximate route's recall row, measuring BOTH losses
    * at once (coarse pruning misses + residual-quantization ranking
    * error). Deterministic end to end. */
  def ivfpqRecall(emb: DataFrame, nCentroids: Int = KmSeeds,
      kc: Int = 16, nQueries: Int = 5, nProbe: Int = 2,
      k: Int = 10): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val ivfpq = ivfpqTopK(emb, nCentroids, kc, nQueries, nProbe, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, ivfpq, k)
  }

  /** recall@k of the PQ ADC ranking ([[pqTopK]]) against the exact
    * brute top-k — the PQ twin of [[ivfRecall]], closing the loop for
    * the compressed route: every approximate path ships with its
    * recall measurement. Deterministic on both sides, so the oracle
    * replays it end-to-end. */
  def pqRecall(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
      kc: Int = 16): DataFrame = {
    // one quantization scan shared by the brute baseline and the PQ
    // pipeline (codebooks, encode, LUT)
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val pq = pqTopKQ(e, nQueries, k, kc)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, pq, k)
  }

  /** [[pqRecall]] with TRAINED codebooks ([[pqTrainCodebooks]], the
    * closed per-subspace Lloyd loop) — measures what the training
    * bought the compressed route, next to the seed-codebook
    * sim_pq_recall row. Deterministic end to end (every Lloyd round
    * re-quantizes to exact integers), so the oracle replays rounds,
    * encode, ADC, and overlap. */
  def pqRecallTrained(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
      kc: Int = 16, iters: Int = 2): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val pq = pqTopKWith(e, pqTrainCodebooks(e, kc, iters), nQueries, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, pq, k)
  }
}
