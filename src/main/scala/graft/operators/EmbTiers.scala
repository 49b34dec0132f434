package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compression tiers: SQ8 scalar quantization and Matryoshka
  * truncation (sweep -> width selection -> persisted tier -> served
  * recall). Split from [[EmbeddingOps]] purely mechanically. */
private[graft] trait EmbTierOps { this: EmbeddingOps.type =>

  /** [[truncRecall]]'s width-SELECTION sweep (the dedup_band_sweep
    * discipline applied to the truncation route): recall@k at several
    * prefix widths in one pass, one row per (truncation dim, query) —
    * the curve an operator reads before fixing the low-dim tier of a
    * storage-tiered serving stack (search a prefix tier first,
    * re-rank survivors at full width — [[ivfpqTopKRerank]]'s
    * two-stage shape with dimensionality instead of quantization as
    * the compressor). Scale shape: ONE quantization scan and one
    * full-dim brute baseline pinned for all arms (truncRecall
    * re-derives both per call); each arm is the broadcast-query brute
    * pattern over sliced vectors (slice + norm are per-row
    * projections); recall joins are per-query. */
  def truncRecallSweep(emb: DataFrame,
      dims: Seq[Int] = Seq(8, 16, 32), nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    // same bound as truncRecall: a width beyond the vector length
    // would silently clamp via slice and report recall 1.0 labeled
    // with a bogus trunc_dim
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d <= Dim),
      s"dims must be in [1, $Dim], got $dims")
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id")).pinned
    dims.map { dd =>
      val t = e.select(col("vec_id"), col("label"),
          expr(s"slice(q, 1, $dd)").as("q"))
        .withColumn("nn",
          aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))
      recallVsBrute(brute,
          annTopKQ(t, nQueries, k).select(col("query_id"),
            col("vec_id")), k)
        .select(lit(dd).as("trunc_dim"), col("query_id"),
          col("n_overlap"), col("recall_at_k"))
    }.reduce(_ unionByName _)
  }

  /** Matryoshka width SELECTION -> truncated-tier BUILD — the
    * composition that makes [[truncRecallSweep]]'s measurement feed a
    * decision instead of a dashboard: run the sweep once, pick the
    * CHEAPEST width whose recall@k clears `recallFloorMilli` (per
    * mille, averaged over the probe queries; falls back to the widest
    * candidate when none clears — serving the best available beats
    * refusing to build), and persist the corpus at that width as a
    * flat quantized tier under the standard index protocol
    * (`$path/vecs/seg=N` + `_segs` manifest + `_dels` tombstones, so
    * [[indexDelete]]/[[tombstones]] work unchanged). Returns the
    * chosen width; `$path/_dim` records it for serving.
    *
    * Scale shape: the selection happens DRIVER-SIDE on the sweep's
    * |dims|-row aggregate card (bounded by the dims construction
    * parameter — never a corpus collect); the build is one
    * slice-projection pass over the corpus; the rebuild is
    * crash-atomic via the warehouse stage-and-swap. */
  def truncIndexBuild(emb: DataFrame, path: String,
      recallFloorMilli: Long = 200L, dims: Seq[Int] = Seq(8, 16, 32),
      nQueries: Int = 5, k: Int = 10): Int = {
    require(recallFloorMilli >= 0,
      s"recallFloorMilli must be >= 0, got $recallFloorMilli")
    val s = emb.sparkSession
    val hits = truncRecallSweep(emb, dims, nQueries, k)
      .groupBy(col("trunc_dim"))
      .agg(sum(col("n_overlap")).as("n_hits"))
      .collect() // |dims| card rows — bounded by the dims parameter
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // avg recall >= floor/1000  <=>  hits * 1000 >= floor * nQ * k,
    // compared in exact integers (no IEEE threshold drift)
    val chosen = dims.sorted
      .find(d => hits.getOrElse(d, 0L) * 1000L >=
        recallFloorMilli * nQueries * k)
      .getOrElse(dims.max)
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    quantized(emb).select(col("vec_id"), col("label"),
        expr(s"slice(q, 1, $chosen)").as("q"))
      .withColumn("nn",
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))
      .write.mode("overwrite").parquet(s"$tmp/vecs/seg=0")
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_dim"), true)
    try out.write(chosen.toString.getBytes("UTF-8")) finally out.close()
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp) // a rebuild expires + retires
    chosen
  }

  /** The width a [[truncIndexBuild]] tier was built at (from the
    * `_dim` sidecar the build committed with the tree). */
  def truncIndexDim(s: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val (fs, root) = fsFor(s, path)
    val p = new org.apache.hadoop.fs.Path(root, "_dim")
    require(fs.exists(p),
      s"no truncated tier at $path — truncIndexBuild it first")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Serve brute cosine top-k from a [[truncIndexBuild]] tier and
    * report recall@k against the FULL-width exact baseline — the
    * online half of the selection->build->serve composition (one row
    * per query, `trunc_dim` stamped from the tier's own sidecar so
    * the report names the width that actually served). The stored
    * tier is read with static committed-segment pruning and tombstone
    * masking; queries are the tier's own first `nQueries` vectors
    * (the [[annTopKQ]] convention, so the served ranking is
    * oracle-comparable to the sweep's per-width arm). With `asOf`,
    * the tier's segments and tombstones pin to the snapshot's
    * capture-time view; the `_dim` sidecar only changes on
    * epoch-bumping swaps. */
  def truncServeRecall(s: org.apache.spark.sql.SparkSession,
      path: String, emb: DataFrame, nQueries: Int = 5,
      k: Int = 10, asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    val stored = s.read.parquet(s"$base/vecs")
      .where(segFilter(s, base, asOf)).drop("seg")
      .join(tombstones(s, base, asOf = asOf), Seq("vec_id"), "left_anti")
    val served = annTopKQ(stored, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val brute = annTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, served, k)
      .select(lit(truncIndexDim(s, base)).as("trunc_dim"),
        col("query_id"), col("n_overlap"), col("recall_at_k"))
  }

  /** recall@k of TRUNCATED-dimension search (the first `dims` of the
    * 64) against the full-dimension brute top-k — the
    * dimensionality-reduction scale path (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022: embedding prefixes serve
    * as usable coarse representations). Truncation cuts ANN compute
    * and candidate-state memory Dim/dims-fold with an UNCHANGED plan
    * shape (same broadcast-queries scan, shorter arrays), so next to
    * LSH buckets, IVF cells, and PQ codes it is the fourth
    * approximate route — and like them it ships with its recall
    * measurement. Exact-integer on both sides; the oracle replays
    * slice, norms, and overlap end-to-end. */
  def truncRecall(emb: DataFrame, dims: Int = 16, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    require(dims >= 1 && dims <= Dim,
      s"dims must be in [1, $Dim], got $dims")
    // one quantization scan shared by the full-dim baseline and the
    // truncated probe
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val t = e.select(col("vec_id"), col("label"),
        slice(col("q"), 1, dims).as("q"))
      .withColumn("nn",
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))
    val trunc = annTopKQ(t, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, trunc, k)
  }

  /** Per-dimension 8-bit scalar quantization (SQ8) — the fifth
    * approximate route next to LSH buckets, IVF cells, PQ codes, and
    * truncation: each milli-unit dimension maps to a byte code
    * c = (q - mn) * 255 div (mx - mn) against per-dimension corpus
    * [mn, mx] ranges (the fixed-point compression faiss ships as
    * ScalarQuantizer QT_8bit), an 8x memory cut that keeps ALL
    * dimensions where truncation keeps all bits of a few.
    * Deterministic end to end: ranges are exact integer aggregates,
    * codes exact integer arithmetic (the numerator is >= 0 by
    * construction — mn is the per-dim minimum — so truncating div IS
    * floor div, and Spark's `div` agrees with DuckDB's `//`), and
    * ranking uses the exact-integer reconstruction
    * r = mn * 255 + c * (mx - mn) (milli-units scaled by the constant
    * 255, which cancels in cosine).
    *
    * Scale shape: the range pass is one posexplode + groupBy(pos)
    * aggregate whose partial min/max combine map-side, so the shuffle
    * carries Dim rows per partition, never the corpus; the Dim-row
    * collect is bounded by the embedding dimensionality (a
    * construction parameter, like nCentroids/nPlanes); coding is then
    * a pure per-row projection against two literal arrays — no join,
    * no second shuffle, fused into whatever consumes it. */
  /** Per-dim [mn, mx] ranges of an already-[[quantized]] frame as a
    * Dim-row table (pos, mn, mx) — the SQ8 "quantizer table" a
    * persisted index stores, playing the role the centroids table
    * plays for IVF. */
  private def sq8Ranges(e: DataFrame): DataFrame =
    e.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))

  /** Collected ranges (pos-ordered Dim rows — construction-bounded)
    * as the two literal arrays the coding/reconstruction projections
    * consume. */
  private def sq8Lits(ranges: Array[org.apache.spark.sql.Row])
      : (Column, Column) = {
    val mnA = array(ranges.toIndexedSeq.map(r => lit(r.getLong(1))): _*)
    val rgA = array(ranges.toIndexedSeq
      .map(r => lit(r.getLong(2) - r.getLong(1))): _*)
    (mnA, rgA)
  }

  /** Byte codes of a quantized vector column against literal ranges.
    * `clamp` guards serve-time queries that fall OUTSIDE the stored
    * corpus range (the quantizer is fixed at build time); corpus
    * members are in range by construction, so clamping is the
    * identity for them and the live/persisted parity holds. */
  private def sq8Code(q: Column, mnA: Column, rgA: Column,
      clamp: Boolean): Column = {
    val raw = zip_with(zip_with(q, mnA, (x, m) => x - m), rgA,
      (x, r) => when(r === 0L, lit(0L))
        .otherwise(call_function("div", x * lit(255L), r)))
    if (clamp) transform(raw, c => greatest(lit(0L), least(lit(255L), c)))
    else raw
  }

  /** Exact-integer reconstruction (in 255ths of a milli-unit) from a
    * code column. */
  private def sq8Recon(c: Column, mnA: Column, rgA: Column): Column =
    zip_with(zip_with(c, rgA, (cc, g) => cc * g), mnA,
      (p, m) => m * lit(255L) + p)

  def sq8Reconstructed(e: DataFrame): DataFrame = {
    val (mnA, rgA) =
      sq8Lits(sq8Ranges(e).orderBy(col("pos")).collect())
    e.withColumn("c", sq8Code(col("q"), mnA, rgA, clamp = false))
      .withColumn("r", sq8Recon(col("c"), mnA, rgA))
      .withColumn("rn",
        aggregate(col("r"), lit(0L), (acc, x) => acc + x * x))
  }

  /** SQ8 top-k over an already-[[quantized]] frame: symmetric
    * quantized comparison (queries rank by their own codes' exact
    * reconstructions — SDC, in the Jegou et al. taxonomy), same
    * broadcast-queries/corpus-scan plan as [[annTopKQ]]. */
  def sq8TopKQ(e: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val r = sq8Reconstructed(e)
    val q = r.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("r").as("qr"),
        col("rn").as("qn"))
    val scored = r.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qr"), col("r")), col("qn"), col("rn")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }

  def sq8TopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    sq8TopKQ(quantized(emb), nQueries, k)

  /** recall@k of the SQ8 ranking against the exact brute top-k — the
    * SQ8 recall row, matching the LSH/IVF/PQ/truncation discipline:
    * no approximate route ships without its measurement. */
  def sq8Recall(emb: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val sq = sq8TopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, sq, k)
  }

  /** Persist an SQ8 index: the Dim-row `ranges` quantizer table plus
    * codes-only `codes/seg=N` segments (vec_id, label, c as
    * array<smallint> — int16 parquet, a 4x cut vs the float vectors;
    * a production layout would pack to raw bytes, the plan shape is
    * unchanged). Completes the persisted family: every approximate
    * route that ships (LSH excepted — stateless planes) has an
    * offline-build/online-serve twin: IVF lists, PQ codes, IVF-PQ
    * residual codes, and now SQ8 codes. Same crash-atomic segment
    * protocol, same rebuild-by-swap. */
  def sq8IndexWrite(emb: DataFrame, path: String): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val e = quantized(emb).pinned
    sq8Ranges(e).write.mode("overwrite").parquet(s"$tmp/ranges")
    val (mnA, rgA) = sq8Lits(
      s.read.parquet(s"$tmp/ranges").orderBy(col("pos")).collect())
    e.select(col("vec_id"), col("label"),
        sq8Code(col("q"), mnA, rgA, clamp = false)
          .cast("array<smallint>").as("c"))
      .write.mode("overwrite").parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp) // a rebuild expires + retires
  }

  /** [[graft.operators.EmbeddingOps]]'s `*IndexWriteWith` door for
    * the SQ8 family: shards code against an existing root's ranges
    * (copied byte-for-byte into the staged tree, read back before
    * coding). Clamp semantics are the APPEND's, not the build's — the
    * ranges were trained elsewhere, so a shard value outside them
    * clamps to the byte domain exactly as an appended one would. */
  def sq8IndexWriteWith(emb: DataFrame, path: String,
      quantizerFrom: String): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val from = new org.apache.hadoop.fs.Path(quantizerFrom, "ranges")
    require(fs.exists(from),
      s"no ranges table at $quantizerFrom — not an SQ8 root")
    org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
      new org.apache.hadoop.fs.Path(tmp, "ranges"), false, false,
      s.sparkContext.hadoopConfiguration)
    val (mnA, rgA) = sq8Lits(
      s.read.parquet(s"$tmp/ranges").orderBy(col("pos")).collect())
    quantized(emb).select(col("vec_id"), col("label"),
        sq8Code(col("q"), mnA, rgA, clamp = true)
          .cast("array<smallint>").as("c"))
      .write.mode("overwrite").parquet(s"$tmp/codes/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp)
  }

  /** [[graft.operators.EmbeddingOps.mergeRoots]] for the SQ8 family:
    * code segments renumber by manifest surgery; ranges must be
    * content-equal across sources ([[sq8IndexWriteWith]] shards).
    * CONSUMES the sources; vec_id domains must be disjoint. */
  def sq8IndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    mergeRoots(s, sources, dest, Seq("codes"), Seq("ranges"),
      validate = requireEqualMetaTables(s, _, Seq("ranges")),
      failpoint = failpoint)

  /** Append new vectors to a persisted SQ8 index: coded against the
    * STORED ranges (the quantizer is fixed at build time — the faiss
    * `add` contract; out-of-range values CLAMP to the byte domain),
    * one crash-atomic segment, O(batch) IO. */
  def sq8IndexAppend(emb: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = emb.sparkSession
    val (mnA, rgA) = sq8Lits(
      s.read.parquet(s"$path/ranges").orderBy(col("pos")).collect())
    appendSegment(s, path, "codes",
      staged => quantized(emb).select(col("vec_id"), col("label"),
          sq8Code(col("q"), mnA, rgA, clamp = true)
            .cast("array<smallint>").as("c"))
        .write.mode("overwrite").parquet(staged),
      failpoint, stamp)
  }

  /** Serve top-k from a persisted SQ8 index: queries quantize and
    * code LIVE against the stored ranges (Dim-row collect, bounded by
    * construction), the committed code segments are scanned once
    * (tombstones masked), and both sides rank by their exact-integer
    * reconstructions — byte codes are the only per-vector state read;
    * no corpus vector exists in the index at all. Output matches
    * [[sq8TopKQ]] exactly when the index was built from the same
    * corpus the queries come from. With `asOf`, segments and
    * tombstones pin to the snapshot's capture-time view; the ranges
    * sidecar only changes on epoch-bumping swaps. */
  def sq8TopKIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int = 10,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    val (mnA, rgA) = sq8Lits(
      s.read.parquet(s"$base/ranges").orderBy(col("pos")).collect())
    val q = quantized(queries)
      .select(col("vec_id").as("query_id"),
        sq8Recon(sq8Code(col("q"), mnA, rgA, clamp = true), mnA, rgA)
          .as("qr"))
      .withColumn("qn",
        aggregate(col("qr"), lit(0L), (acc, x) => acc + x * x))
    val codes = s.read.parquet(s"$base/codes")
      .where(segFilter(s, base, asOf)).drop("seg")
      .join(tombstones(s, base, asOf = asOf), Seq("vec_id"), "left_anti")
      .withColumn("r", sq8Recon(
        transform(col("c"), x => x.cast("long")), mnA, rgA))
      .withColumn("rn",
        aggregate(col("r"), lit(0L), (acc, x) => acc + x * x))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qr"), col("r")), col("qn"), col("rn")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }
}
