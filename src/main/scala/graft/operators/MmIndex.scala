package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted perceptual-hash (aHash) near-dup index — the IMAGE
  * modality's offline-build/online-serve dedup, closing the segment
  * protocol over the last modality that had only batch pairing
  * ([[Multimodal.imageDupPairs]]): a 100 TB image corpus is hashed
  * and indexed ONCE, then every ingest batch asks "is this image a
  * near-dup of anything already kept?" without touching the corpus
  * again. Everything rides the [[EmbSegmentOps]] machinery — staged
  * segments under a `_segs` manifest, tombstone deletes, compaction,
  * snapshot tokens, the retention grace — so the governance surface
  * (asOf serving, forget sweeps, indexDiff) works here unchanged.
  *
  * Layout under `path`: `bands/seg=N/pb=B/` — one row per (doc, band)
  * holding (doc_id, band_idx, band_val, bs = the four 16-bit hash
  * bands), partitioned by pb = pmod(hash(band_idx, band_val),
  * nBuckets) so serving prunes to the BATCH-TOUCHED buckets (a
  * static partition IN, the BM25 `tb` discipline); `params/` (the
  * write-once bucket modulus); a `_pstats` per-bucket stat sidecar
  * inside every segment (bn = member count, hub = min doc_id — the
  * MinHash `_bstats` discipline) powering the oversized-bucket
  * volume cap. Split into its own file purely mechanically. */
private[graft] trait MmIndexOps { this: Multimodal.type =>

  /** Default per-bucket candidate cap for [[phashNearDupServe]]: an
    * indexed template image duplicated B times puts B rows in the
    * same bucket in EVERY band; past the cap the bucket answers
    * through its hub representative, bounding candidates at
    * |batch| * 4 * cap by construction. */
  val PhashBucketCap = 1024

  /** The banded-hash frame of a media batch's IMAGES: only decodable
    * images index (the `kind === "image"` filter drops decode errors
    * and other modalities loudly upstream — [[Multimodal.imageHash]]
    * rows carry the reason). (doc_id, bs = the four 16-bit aHash
    * bands). Pure per-row decode; no shuffle. */
  private def imageHashBands(media: DataFrame): DataFrame =
    imageHash(media).where(col("kind") === "image")
      .select(col("doc_id"),
        array(col("b0"), col("b1"), col("b2"), col("b3")).as("bs"))

  /** The banded-hash frame of a media batch's AUDIO streams: the
    * segment-energy fingerprint ([[Multimodal.audioHash]]) as a
    * one-band `bs`, so the whole banded-index protocol below applies
    * unchanged — candidates share the fingerprint bucket, and
    * maxHamming = 0 makes the serve the exact-fingerprint lookup
    * ([[Multimodal.audioDupPairs]]'s blocking, persisted). */
  private def audioHashBands(media: DataFrame): DataFrame =
    audioHash(media).where(col("kind") === "audio")
      .select(col("doc_id"), array(col("h")).as("bs"))

  /** Banded index rows from a (doc_id, bs) hash frame — the shared
    * layout every media hash family stores: one row per (doc, band),
    * bucket-keyed for the serve-side partition prune. */
  private def bandedRows(hashed: DataFrame, nBuckets: Int): DataFrame =
    hashed
      .select(col("doc_id"), col("bs"),
        posexplode(col("bs")).as(Seq("band_idx", "band_val")))
      .withColumn("pb",
        pmod(hash(col("band_idx"), col("band_val")), lit(nBuckets)))

  /** Per-bucket statistics of one segment's rows — merged at serve
    * time by sum/min across segments, which equals the window over
    * all committed rows by construction. */
  private def phashBandStats(rows: DataFrame): DataFrame =
    rows.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("hub"))

  // explicit schemas for every index read-back: a bucket-partitioned
  // write of ZERO rows (an all-decode-error append batch; a compaction
  // of a fully-tombstoned index) produces no parquet files, and a
  // schema-INFERRED read of such a segment throws instead of
  // returning the empty frame — the banded family must stay
  // maintainable and serveable through empty segments
  private val bandedSegSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("band_idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("band_val",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pb",
      org.apache.spark.sql.types.IntegerType)))

  private def bandedStoredSchema = bandedSegSchema.add(
    org.apache.spark.sql.types.StructField("seg",
      org.apache.spark.sql.types.IntegerType))

  private val pstatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band_idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("band_val",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bn",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("hub",
      org.apache.spark.sql.types.LongType)))

  /** Stage one segment: bucket-partitioned rows plus the `_pstats`
    * sidecar computed from the rows AS WRITTEN (read back from the
    * staged files, so the stats can never drift from the data they
    * count). Both land inside the staged dir — the publish rename
    * commits them together. Zero-row segments are legal (see
    * [[bandedSegSchema]]): the directory is created explicitly so
    * the staged-rename protocol holds, and the schema'd read-back
    * yields the empty stat sidecar. */
  private def writePhashSeg(s: org.apache.spark.sql.SparkSession,
      rows: DataFrame, segDir: String): Unit = {
    rows.repartition(col("pb"))
      .write.partitionBy("pb").mode("overwrite").parquet(segDir)
    val (fs, dir) = EmbeddingOps.fsFor(s, segDir)
    fs.mkdirs(dir) // a zero-row partitioned write may create nothing
    phashBandStats(s.read.option("basePath", segDir)
        .schema(bandedSegSchema).parquet(segDir)
        .select(col("doc_id"), col("band_idx"), col("band_val")))
      .write.mode("overwrite").parquet(s"$segDir/_pstats")
  }

  /** The write-once bucket modulus, cached per (base, epoch) — the
    * per-serve `.head` job vanishes ([[graft.operators
    * .IndexMetaCache]]'s contract: immutable within an incarnation). */
  private def phashParams(s: org.apache.spark.sql.SparkSession,
      base: String): Int = {
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    IndexMetaCache.cached(base, EmbeddingOps.epochOf(fs, root),
      "banded_nbuckets")(Integer.valueOf(
        s.read.parquet(s"$base/params").head.getAs[Int]("n_buckets")))
      .intValue
  }

  private def bandedIndexWrite(hashed: DataFrame, path: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val s = hashed.sparkSession
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writePhashSeg(s, bandedRows(hashed, nBuckets),
      s"$tmp/bands/seg=0")
    val sess = s
    import sess.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$tmp/params")
    EmbeddingOps.commitGen(fs,
      new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    EmbeddingOps.publishStaged(fs, root, tmp) // expires + retires
  }

  /** Build the persisted image near-dup index at `path`. Crash-atomic
    * (staged hidden sibling, swapped whole); a rebuild expires pinned
    * snapshots and retires the replaced tree per the retention
    * grace. */
  def phashIndexWrite(media: DataFrame, path: String,
      nBuckets: Int = 64): Unit =
    bandedIndexWrite(imageHashBands(media), path, nBuckets)

  /** Build the persisted AUDIO fingerprint index — the same banded
    * root layout under a one-band hash, so every maintenance and
    * governance entry point ([[phashIndexDelete]]/[[phashIndexCompact]]
    * /[[phashIndexStats]], snapshots, retention, indexDiff, forget
    * sweeps) applies to an audio root verbatim. */
  def audioIndexWrite(media: DataFrame, path: String,
      nBuckets: Int = 64): Unit =
    bandedIndexWrite(audioHashBands(media), path, nBuckets)

  /** Append a new image batch as one crash-atomic segment (rows +
    * `_pstats`, both O(batch)) under the STORED bucket modulus.
    * Caller contract mirrors every index append: doc_ids must be new
    * (route ingestion through a registry when mutation protection
    * matters), one appender at a time. */
  def phashIndexAppend(media: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit =
    bandedIndexAppend(imageHashBands(media), path, failpoint, stamp)

  /** [[phashIndexAppend]] for an audio index root. */
  def audioIndexAppend(media: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit =
    bandedIndexAppend(audioHashBands(media), path, failpoint, stamp)

  private def bandedIndexAppend(hashed: DataFrame, path: String,
      failpoint: String => Unit, stamp: String => Unit): Unit = {
    val s = hashed.sparkSession
    val nBuckets = phashParams(s, path)
    EmbeddingOps.appendSegment(s, path, "bands",
      staged =>
        writePhashSeg(s, bandedRows(hashed, nBuckets), staged),
      failpoint, stamp)
  }

  /** Delete images from the index — the tombstone protocol keyed by
    * doc_id: crash-atomic, O(batch); serving anti-joins the committed
    * set, [[phashIndexCompact]] applies it physically. */
  def phashIndexDelete(s: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame,
      failpoint: String => Unit = _ => ()): Unit =
    EmbeddingOps.indexDelete(s, path, ids, failpoint, keyCol = "doc_id")

  /** Compact: the segment chain collapses to one (bucket partitioning
    * preserved), tombstoned docs drop physically, the `_pstats`
    * sidecar regenerates from the compacted rows, and the tombstone
    * manifest clears — serving is identical before and after. */
  def phashIndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String, failpoint: String => Unit = _ => ()): Int =
    EmbeddingOps.compactSegments(s, path, "bands", Seq("params"),
      df => df.repartition(col("pb")).write.partitionBy("pb")
        .mode("overwrite"),
      keyCol = "doc_id", failpoint,
      extraSeg = segDir => phashBandStats(
          s.read.option("basePath", segDir).schema(bandedSegSchema)
            .parquet(segDir)
            .select(col("doc_id"), col("band_idx"), col("band_val")))
        .write.mode("overwrite").parquet(s"$segDir/_pstats"),
      // this family legalizes zero-row segments (an all-undecodable
      // append batch writes no parquet files) — the explicit schema
      // keeps compaction of an all-empty committed set from crashing
      // on schema inference
      readSchema = Some(bandedStoredSchema))

  /** Size-tiered tail compaction for a banded media root
    * ([[graft.operators.EmbeddingOps.tailCompactSegments]]): bounds
    * the segment count by merging only the smallest segments —
    * bucket partitioning and the `_pstats` sidecar regenerate for the
    * merged segment only; the big old segments never rewrite. */
  def phashIndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int =
    EmbeddingOps.tailCompactSegments(s, path, "bands",
      df => df.repartition(col("pb")).write.partitionBy("pb")
        .mode("overwrite"),
      keyCol = "doc_id", maxSegments = maxSegments,
      failpoint = failpoint,
      extraSeg = segDir => phashBandStats(
          s.read.option("basePath", segDir).schema(bandedSegSchema)
            .parquet(segDir)
            .select(col("doc_id"), col("band_idx"), col("band_val")))
        .write.mode("overwrite").parquet(s"$segDir/_pstats"),
      readSchema = Some(bandedStoredSchema))

  /** The standing maintenance policy for a banded media root
    * ([[graft.operators.EmbeddingOps.maintainIndexWith]]): forget
    * sweep -> full rewrite; over `maxSegments` -> tail merge. */
  def bandedIndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    EmbeddingOps.maintainIndexWith(s, path, maxSegments)(
      phashIndexCompactTail(s, path, maxSegments))(
      phashIndexCompact(s, path))

  /** Merge independently-built banded media index roots (image aHash
    * or audio fingerprint — any roots of ONE hash family) into a
    * single serving root — [[graft.operators.EmbeddingOps
    * .mergeRoots]] for the banded protocol: shard-parallel builds
    * stitch by manifest surgery, zero data rewrite, zero shuffle.
    * Sources must share the write-once bucket modulus (validated;
    * bucket assignment is content-keyed, so equal moduli make the
    * layouts unionable); segments carry their `_pstats` sidecars
    * inside the renamed directories. Mixing hash FAMILIES (an image
    * root with an audio root) is the caller's error the same way
    * mixing them in one append is — the layout cannot detect it.
    * CONSUMES the sources; doc_id domains must be disjoint. */
  def bandedIndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    EmbeddingOps.mergeRoots(s, sources, dest, Seq("bands"),
      Seq("params"),
      validate = EmbeddingOps.requireSameBucketModuli(s, _),
      failpoint = failpoint)

  /** Merged per-bucket statistics — the index's bucket-balance
    * monitoring card (band_idx, band_val, bn, hub), bucket-
    * cardinality; bucket skew is what drives the volume cap. */
  def phashIndexStats(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val (gen, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    // same guided refusal as the serve path: a legacy segment
    // predating the sidecar must not surface as a raw parquet path
    // error
    val statDirs = segs.map(k => s"$path/bands/seg=$k/_pstats")
    statDirs.foreach { d =>
      require(fs.exists(new org.apache.hadoop.fs.Path(d)),
        s"no _pstats sidecar at $d — rebuild or compact the index " +
          "with this version first")
    }
    s.read.schema(pstatsSchema).parquet(statDirs: _*)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(sum(col("bn")).as("bn"), min(col("hub")).as("hub"))
  }

  /** Serve image near-dup lookups from the persisted index: for a NEW
    * media batch, every (indexed doc, batch doc) pair sharing any of
    * the four 16-bit aHash bands whose exact Hamming distance (over
    * all 64 bits) is <= `maxHamming`. By pigeonhole every pair at
    * distance <= 3 shares a band, so the default threshold's recall
    * is GUARANTEED; raising it past 3 trades recall for reach.
    * Output (doc_a = indexed, doc_b = batch, hamming).
    *
    * Scale shape: the batch side hashes per-row and BROADCASTS
    * (bounded by the ingest batch, never the index); the stored scan
    * carries STATIC (seg, pb) partition filters — committed segments
    * and the batch-touched hash buckets only, so serve IO is
    * |touched buckets|/nBuckets of the index regardless of batch
    * size; bucket stats come from the segments' `_pstats` sidecars
    * (merged for touched buckets only, broadcast), so stored rows
    * never shuffle — the serve is one pruned scan feeding broadcast
    * joins. Oversized buckets (bn > bucketCap) answer through their
    * hub representative, bounding candidates at |batch| * 4 * cap; a
    * tombstoned hub re-routes to the smallest LIVE doc (the re-hub
    * scan is built ONLY when a dead hub exists — the MinHash serve's
    * conditional discipline). Verification is O(1) per candidate
    * (four 16-bit XOR popcounts — no set intersection), and
    * tombstones mask at the pair stage, O(candidates) never
    * O(index). Batch doc_ids are assumed disjoint from indexed ones
    * (the append contract); a pinned serve racing a concurrent swap is
    * absorbed by wrapping the action in [[graft.operators
    * .EmbeddingOps.withSnapshotRetry]]. */
  def phashNearDupServe(s: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = PhashBucketCap,
      asOf: Option[IndexSnapshot] = None,
      localKeyLimit: Int = 262144): DataFrame =
    bandedServe(s, path, imageHashBands(batch), maxHamming, bucketCap,
      asOf, localKeyLimit)

  /** Serve audio duplicate lookups from a persisted audio fingerprint
    * index ([[audioIndexWrite]]): the default maxHamming = 0 is the
    * exact-fingerprint match [[Multimodal.audioDupPairs]] blocks on,
    * served off the stored index instead of a corpus self-join; the
    * plan shape and every bound are [[phashNearDupServe]]'s (the
    * fingerprint is a one-band hash under the same protocol). */
  def audioDupServe(s: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, maxHamming: Int = 0,
      bucketCap: Int = PhashBucketCap,
      asOf: Option[IndexSnapshot] = None,
      localKeyLimit: Int = 262144): DataFrame =
    bandedServe(s, path, audioHashBands(batch), maxHamming, bucketCap,
      asOf, localKeyLimit)

  private def bandedServe(s: org.apache.spark.sql.SparkSession,
      path: String, qHashed: DataFrame, maxHamming: Int,
      bucketCap: Int, asOf: Option[IndexSnapshot],
      localKeyLimit: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    require(localKeyLimit > 0, "localKeyLimit must be positive")
    // data rows, stat sidecars, params, and tombstones all read from
    // the ONE resolved base — live root, or the retired tree within
    // the snapshot retention grace
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val nBuckets = phashParams(s, base)
    val qBands = qHashed
      .select(col("doc_id").as("doc_b"), col("bs").as("bs_b"))
      .select(col("doc_b"), col("bs_b"),
        posexplode(col("bs_b")).as(Seq("band_idx", "band_val")))
      .pinned // touched-bucket collect + key join, one batch hash
    // ONE gated collect of the deduped batch band keys WITH their
    // bucket ids (the batched-BM25 LocalRelation discipline): within
    // `localKeyLimit` the collect IS the fast path — the key
    // semi-joins' broadcast side is free and the touched-bucket
    // partition IN derives driver-side with no extra job. A batch
    // past the limit keeps its keys DISTRIBUTED (shuffle joins — no
    // broadcast hint whose build side would land on the driver
    // anyway) and collects only the distinct bucket ids, bounded by
    // nBuckets. Route.bounded decides the route in one job.
    val keyProbe = Route.bounded(
      qBands.select(col("band_idx"), col("band_val"))
        .distinct()
        .withColumn("pb",
          pmod(hash(col("band_idx"), col("band_val")), lit(nBuckets))),
      localKeyLimit)
    // a batch with no decodable media of this modality has no
    // near-dups — answer empty, like the MinHash serve, instead of
    // crashing a routine ingest loop on a text-only batch
    if (keyProbe.exists(_.isEmpty))
      return s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hamming",
            org.apache.spark.sql.types.LongType))))
    val keysLocal = keyProbe.isDefined
    val keySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band_idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("band_val",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pb",
        org.apache.spark.sql.types.IntegerType)))
    val (batchKeys, touchedPb) = keyProbe match {
      case Some(keys) =>
        (s.createDataFrame(java.util.Arrays.asList(keys: _*),
          keySchema).drop("pb"),
          keys.map(_.getInt(2)).distinct)
      case None =>
        val kd = qBands.select(col("band_idx"), col("band_val"))
          .distinct().pinned
        (kd, kd.select(pmod(hash(col("band_idx"), col("band_val")),
            lit(nBuckets)).as("pb"))
          .distinct().collect().map(_.getInt(0))) // <= nBuckets rows
    }
    def hinted(df: DataFrame): DataFrame =
      if (keysLocal) broadcast(df) else df
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    val segs = asOf match {
      case Some(snap) => snap.dataSegs
      case None => EmbeddingOps.committedSegs(fs,
        new org.apache.hadoop.fs.Path(root, "_segs"))._2
    }
    val statDirs = segs.map(k => s"$base/bands/seg=$k/_pstats")
    statDirs.foreach { d =>
      require(fs.exists(new org.apache.hadoop.fs.Path(d)),
        s"no _pstats sidecar at $d — rebuild or compact the index " +
          "with this version first")
    }
    val touched = s.read.schema(pstatsSchema).parquet(statDirs: _*)
      .join(hinted(batchKeys), Seq("band_idx", "band_val"),
        "left_semi")
    // single-segment indexes (the post-compaction steady state) skip
    // the merge: the segment's stats ARE the totals
    val stats =
      (if (segs.size == 1) touched
      else touched.groupBy(col("band_idx"), col("band_val"))
        .agg(sum(col("bn")).as("bn"), min(col("hub")).as("hub")))
        .pinned // dead-hub probe + capped filter, one stat merge
    val tomb = EmbeddingOps.tombstones(s, base, "doc_id", asOf)
    val stored = s.read.option("basePath", s"$base/bands")
      .schema(bandedStoredSchema).parquet(s"$base/bands")
      .where(EmbeddingOps.segFilter(s, base, asOf) &&
        col("pb").isin(touchedPb.map(Int.box): _*))
      .select(col("doc_id").as("doc_a"), col("bs").as("bs_a"),
        col("band_idx"), col("band_val"))
    // an OVERSIZED bucket answers exclusively through its hub; if the
    // hub is tombstoned the final anti-join would silently erase the
    // whole bucket's answers until compaction — re-hub at serve time
    // to the smallest LIVE doc, building the re-hub scan ONLY when a
    // dead hub exists (steady state plans exactly one stored scan)
    val deadHubDf = stats
      .join(tomb.withColumnRenamed("doc_id", "hub"), Seq("hub"),
        "left_semi")
      .select(col("band_idx"), col("band_val"))
    val deadHubKeys = deadHubDf.collect()
    val statsLive = if (deadHubKeys.isEmpty) stats else {
      val deadHub = s.createDataFrame(
        java.util.Arrays.asList(deadHubKeys: _*), deadHubDf.schema)
      val rehub = stored
        .join(broadcast(deadHub), Seq("band_idx", "band_val"),
          "left_semi")
        .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
          "left_anti")
        .groupBy(col("band_idx"), col("band_val"))
        .agg(min(col("doc_a")).as("live_hub"))
      stats.join(rehub, Seq("band_idx", "band_val"), "left")
        .withColumn("hub", coalesce(col("live_hub"), col("hub")))
        .drop("live_hub")
    }
    val capped = stored
      .join(hinted(statsLive), Seq("band_idx", "band_val"))
      .where(col("bn") <= bucketCap || col("doc_a") === col("hub"))
    val pairs = capped
      .join(hinted(qBands), Seq("band_idx", "band_val"))
      .select(col("doc_a"), col("bs_a"), col("doc_b"), col("bs_b"))
      .distinct() // a pair can share up to all four bands
    pairs
      .withColumn("hamming", aggregate(
        zip_with(col("bs_a"), col("bs_b"),
          (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .where(col("hamming") <= maxHamming)
      .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
        "left_anti")
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
