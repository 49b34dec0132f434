package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming rendering of the reference's incremental
  * contract (SURVEY.md §2.9): the watermark replaces the persisted
  * `etl_batch_log` sync point, `dropDuplicates` replaces the layered
  * upsert keys, tumbling windows replace the daily/hourly batch
  * aggregates, and `flatMapGroupsWithState` covers the stateful-counter
  * pattern the reference approximates with increment-on-conflict.
  *
  * All operators are bounded-state: every aggregation carries a
  * watermark so state is evicted as event time advances — mandatory for
  * an unbounded run at scale.
  */
object Streams extends IndexIngestSinks {

  /** Late/duplicate protection (§2.9): event-time watermark + keyed
    * dedup — the streaming form of the reference's (track_id,
    * played_at) upsert keys at every layer. */
  def dedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("user_id", "ts")

  /** Watermark-BOUNDED keyed dedup — the state-size-safe production
    * form of [[dedup]]: `dropDuplicatesWithinWatermark` may evict a
    * key's state once the watermark passes it, so state is
    * O(keys-per-watermark-window), not O(all keys ever seen). That is
    * the route for at-least-once replay duplicates (collector retries,
    * source re-delivery), which arrive close to the original by
    * construction; a plain dropDuplicates' ever-growing state is the
    * operator a 100 TB/day stream cannot run. Semantics within the
    * window are identical to batch dropDuplicates over the same keys —
    * pinned by SourcesStreamingSpec's watermark-bounded dedup test
    * (same-batch and cross-batch duplicates). */
  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Tumbling hourly counts (J6/A10's streaming analog). The value sum
    * accumulates exact integer cents and surfaces as one division, so
    * the same operator run in batch mode hash-matches the oracle
    * (a double sum's accumulation order is nondeterministic). */
  def hourlyCounts(events: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.TimeFns.cents(col("value"))).as("cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), (col("cents") / lit(100.0)).as("total_value"))

  /** Sliding-window counts (3 h window, 1 h slide by default): each
    * event lands in duration/slide windows. Works unchanged on a batch
    * frame (the watermark is a streaming-only hint), so the same
    * operator serves both execution modes. */
  def slidingCounts(events: DataFrame, duration: String = "3 hours",
      slide: String = "1 hour", watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), duration, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Daily per-type stats (A4's streaming analog, 1-day tumbling). */
  def dailyCounts(events: DataFrame,
      watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("date").as("event_date"),
        col("event_type"), col("n_events"))

  private def stateVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("b\\d+")).map(_.drop(1).toLong)

  /** Versions whose parquet write finished (the committer's _SUCCESS
    * marker exists) — a crash mid-write leaves a version directory
    * without it, and such a version must never be read as state. */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    stateVersions(fs, root).filter(v => fs.exists(
      new org.apache.hadoop.fs.Path(root, s"b$v/_SUCCESS")))

  /** Fixed shard count a fold state is hash-bucketed into, pinned in
    * the state's [[ParamsFile]] sidecar — resuming with a different
    * count would silently re-home keys across shards and per-shard
    * merges would miss their predecessors. A micro-batch reads and
    * rewrites ONLY the shards its keys hash into: at a 100 TB
    * incrementally-collected corpus the doc registry is O(all docs
    * ever seen), and rewriting all of it to fold in a few thousand
    * new rows is the wrong plan — per-batch IO must be
    * O(batch + state/nShards * touched), not O(state). */
  val DefaultStateShards = 64

  private val ShardPrefix = "_shard="
  private val ManifestFile = "_shards.json"
  private val ParamsFile = "_params"

  /** A generation's shard manifest: shard id -> the generation whose
    * directory holds that shard's CURRENT data
    * (`b<gen>/_shard=<id>`). Shards a batch did not touch are carried
    * forward BY REFERENCE — the manifest, not a data copy, is what
    * makes per-batch IO independent of total state size. A
    * pre-sharding generation has no manifest (None): its parquet
    * lives directly in the generation dir, and the next batch
    * migrates it into shards in one full rewrite. */
  private def readShardManifest(fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path): Option[Map[Int, Long]] = {
    val p = new org.apache.hadoop.fs.Path(gen, ManifestFile)
    val next = new org.apache.hadoop.fs.Path(gen, ManifestFile + ".next")
    // a compaction that died between its delete and rename leaves the
    // COMPLETE staged manifest at `.next` and no main — promote it
    // (idempotent: when two readers race, the loser's rename fails
    // and the main the winner installed is read instead)
    if (!fs.exists(p) && fs.exists(next)) {
      fs.rename(next, p)
      ()
    }
    if (!fs.exists(p)) None
    else Some("\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(readUtf8(fs, p))
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
  }

  private def writeShardManifest(fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path, m: Map[Int, Long]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(gen, ManifestFile),
      true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (k, g) => s""""$k":$g""" }
      .mkString("{", ",", "}").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the write-once `_params` sidecar (sorted `key=value` lines);
    * empty if absent. */
  private def readParams(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(root, ParamsFile)
    if (!fs.exists(p)) Map.empty
    else readUtf8(fs, p).linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** Bind the sink's construction parameters to the state: the first
    * batch writes them write-once (tmp + rename + read-back, the
    * [[bindRun]] discipline), every later batch verifies. Folding
    * under drifted parameters — a different shard modulus, a flipped
    * DSIR target, a changed bucket count — would corrupt the state
    * SILENTLY: the doc-registry refusal cannot catch it because new
    * docs are genuinely new, so the check must live at bind time. */
  private def bindParams(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      params: Map[String, String], versions: Seq[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, ParamsFile)
    def verify(): Unit = {
      val stored = readParams(fs, root)
      require(stored == params,
        s"state at $root was built with parameters " +
          stored.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString("{", ", ", "}") +
          " but this sink is configured with " +
          params.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString("{", ", ", "}") +
          "; folding under drifted parameters would silently corrupt " +
          "the state. Match the original configuration or rebuild.")
    }
    if (fs.exists(p)) verify()
    else {
      // a sidecar-less state with COMMITTED versions predates the
      // sidecar: adopting the sink's CURRENT configuration as its
      // truth would be exactly the silent drift the sidecar refuses —
      // the first post-upgrade resume of a drifted sink would fold one
      // batch wrong and then permanently record the drifted values as
      // correct. Refuse; the operator attests the original parameters
      // with adoptStateParams after checking them out-of-band.
      require(versions.isEmpty,
        s"state at $root has committed version(s) but no " +
          s"$ParamsFile sidecar (built before parameter pinning). " +
          "Refusing to adopt the current sink configuration as its " +
          "truth — verify the original parameters and stamp them " +
          "with Streams.adoptStateParams, or rebuild the state.")
      val tmp = new org.apache.hadoop.fs.Path(root,
        ParamsFile + ".tmp-" + java.util.UUID.randomUUID())
      val out = fs.create(tmp, false)
      try out.write(params.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      fs.rename(tmp, p)
      if (fs.exists(tmp)) fs.delete(tmp, false)
      verify()
    }
  }

  /** Explicit migration for a pre-sidecar state: stamp the ATTESTED
    * original construction parameters onto an existing versioned
    * state that has none recorded. This is the operator saying "I
    * checked what this state was built with" — the sink itself
    * refuses to guess (see [[bindParams]]). `params` must be the full
    * map the owning sink binds, including `nShards` (e.g.
    * `Map("nShards" -> "64")` for [[dedupExactSink]]; dsir sinks add
    * their target/bucket keys). Refuses if a sidecar already exists
    * or the state has no committed versions (a fresh state binds
    * itself on the first batch). */
  def adoptStateParams(s: org.apache.spark.sql.SparkSession,
      statePath: String, params: Map[String, String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root, ParamsFile)
    require(!fs.exists(p),
      s"state at $statePath already has a $ParamsFile sidecar; " +
        "adoption is only for pre-sidecar states.")
    require(committedVersions(fs, root).nonEmpty,
      s"no committed state at $statePath; a fresh sink binds its own " +
        "parameters on the first batch.")
    val tmp = new org.apache.hadoop.fs.Path(root,
      ParamsFile + ".tmp-" + java.util.UUID.randomUUID())
    val out = fs.create(tmp, false)
    try out.write(params.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, p)
    if (fs.exists(tmp)) fs.delete(tmp, false)
    require(readParams(fs, root) == params,
      s"adoption race at $statePath: the surviving sidecar differs")
  }

  /** The statePath↔checkpoint binding marker. Version-vs-batchId
    * ordering alone cannot tell a legitimate resume from a FRESH
    * checkpoint pointed at an old statePath whose max version is <=
    * the new batchId (the stray-b0 case: batch 0 of the new run would
    * silently overwrite the old b0 from an empty predecessor). The
    * first batch therefore writes the owning checkpoint's IDENTITY
    * into `_run`, and every batch requires it to match. */
  private val RunMarker = "_run"

  private[streaming] def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    graft.operators.EmbeddingOps.readUtf8Marker(fs, p).getOrElse(
      throw new java.io.FileNotFoundException(p.toString))

  /** The checkpoint's unique streaming-query id, read from its
    * `metadata` file (written by the engine when the checkpoint is
    * CREATED). This — not the checkpoint's path — is the identity the
    * state must bind to: a cleared-and-recreated checkpoint at the
    * same path restarts batch numbering under a NEW id, and a
    * path-string comparison would neither catch that (silent state
    * reset) nor survive an equivalent respelling of the same location
    * (spurious kill). */
  private[streaming] def checkpointQueryId(
      conf: org.apache.hadoop.conf.Configuration,
      checkpointLocation: String): String = {
    val meta = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(checkpointLocation), "metadata")
    val mfs = meta.getFileSystem(conf)
    require(mfs.exists(meta),
      s"no streaming-query metadata at $meta; a versioned fold sink " +
        "must run from the checkpointLocation passed to it.")
    val idRe = "\"id\"\\s*:\\s*\"([^\"]+)\"".r
    idRe.findFirstMatchIn(readUtf8(mfs, meta)).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"checkpoint metadata at $meta carries no query id"))
  }

  /** Bind `statePath` to the owning query id: verify an existing
    * marker, or claim an unowned EMPTY statePath by writing one
    * (unique tmp + rename + read-back, so neither a crash mid-write
    * nor a concurrent claimant can leave both parties believing they
    * own the path). Pre-existing state versions with no marker mean
    * the path belongs to an unknown earlier run — refuse rather than
    * fold over its counts. */
  private def bindRun(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, queryId: String,
      versions: Seq[Long]): Unit = {
    val marker = new org.apache.hadoop.fs.Path(root, RunMarker)
    def verify(): Unit = {
      val owner = readUtf8(fs, marker)
      require(owner == queryId,
        s"versioned state at $root belongs to checkpoint query " +
          s"'$owner', not '$queryId'. The checkpoint was recreated or " +
          "another pipeline owns this statePath; clear it or resume " +
          "with the original checkpoint.")
    }
    if (fs.exists(marker)) verify()
    else {
      require(versions.isEmpty,
        s"versioned state at $root has version(s) " +
          versions.sorted.mkString("b", ", b", "") +
          " but no run marker; it was written by an earlier run of " +
          "this sink. Clear statePath or resume with the original " +
          "checkpointLocation.")
      val tmp = new org.apache.hadoop.fs.Path(root,
        RunMarker + ".tmp-" + java.util.UUID.randomUUID())
      val out = fs.create(tmp, false)
      try out.write(queryId.getBytes("UTF-8"))
      finally out.close()
      // rename may succeed-by-overwrite on some filesystems and fail
      // on others when racing another claimant — either way the
      // read-back of the SURVIVING marker decides ownership
      fs.rename(tmp, marker)
      if (fs.exists(tmp)) fs.delete(tmp, false)
      verify()
    }
  }

  /** Streaming parity for [[graft.operators.TextOps.dedupExact]]
    * (§2.9 meets the dedup family): each micro-batch's per-content-hash
    * increment (min kept doc, copy count) is folded into a persisted
    * dedup state table via foreachBatch. min() and sum() are
    * associative+commutative, so ANY micro-batch slicing of the corpus
    * converges to exactly the batch dedupExact answer —
    * StreamDedupParitySpec pins that.
    *
    * foreachBatch is at-least-once, so the fold must be IDEMPOTENT
    * under replay: state is versioned by batchId (`b<id>` dirs under
    * statePath), and batch b always folds into the latest version
    * STRICTLY BELOW b — a replayed batch recomputes the same output
    * version from the same predecessor instead of double-counting into
    * its own result. The predecessor is retained until the next batch
    * commits (older versions are pruned); a crash mid-write only
    * corrupts the version being written, which the replay then
    * overwrites. Per batch the merge reads and rewrites ONLY the hash
    * shards the batch's content hashes land in (the sharded protocol
    * below) — O(batch + touched shards), with one keyed shuffle on
    * the 32-char hash.
    *
    * `checkpointLocation` is taken here (and set on the returned
    * writer) because the state is only correct relative to ITS
    * checkpoint's batch numbering: the first batch stamps the
    * checkpoint's unique query id into a `_run` marker under
    * statePath, and every batch verifies it, so pointing a fresh OR
    * recreated checkpoint at an old statePath fails loudly instead of
    * silently resetting its counts. */
  def dedupExactSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    versionedFoldSink(docs, statePath, checkpointLocation,
      n => pmod(hash(col("content_hash")), lit(n)), nShards)(
      batch => graft.operators.TextOps.dedupExact(batch))(
      (prev, inc) => prev.unionByName(inc)
        .groupBy(col("content_hash"))
        .agg(min(col("kept_doc_id")).as("kept_doc_id"),
          sum(col("n_copies")).as("n_copies")))

  /** Streaming MinHash signature maintenance — the NEAR-dup analog of
    * [[dedupExactSink]]: each micro-batch's per-doc signatures
    * ([[graft.operators.TextOps.minhashSignature]]) fold into the
    * versioned state by per-column MIN on the doc key. Min is
    * associative, commutative and IDEMPOTENT, so any doc-level
    * slicing, reordering, or re-delivery of the corpus converges to
    * the batch signature table exactly (re-delivered docs are
    * no-ops — the incremental dedup-state property). Candidates then
    * come from [[graft.operators.TextOps.minhashBands]] over the
    * state, off the hot path. Per batch: one signature aggregation
    * over the batch + one keyed merge of the TOUCHED state shards,
    * O(batch + touched shards).
    *
    * The no-op claim holds for BYTE-IDENTICAL re-delivery only: a doc
    * re-delivered with CHANGED text would min-fold into a chimera
    * signature belonging to neither version, and the monotone fold
    * could never correct it. The state is therefore the one-pass
    * [[graft.operators.TextOps.minhashRegistry]] — EVERY delivered
    * doc's content hash, signatures NULL below the 3-token shingle
    * floor (a banding consumer filters `m0 IS NOT NULL`) — and the
    * merge REFUSES a batch that contradicts a doc's recorded content,
    * including a re-delivery that shrank below the floor (a deletion
    * a monotone fold cannot express). Mutable corpora need
    * delete+reload, not a silent fold — the same refuse-don't-guess
    * discipline as the run-marker checks. */
  def minhashSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    versionedFoldSink(docs, statePath, checkpointLocation,
      n => pmod(hash(col("doc_id")), lit(n)), nShards)(
      // the AUDITED registry: ch as a (min, max) pair per doc, so a
      // doc delivered twice within ONE micro-batch with different
      // text surfaces as ch_lo != ch_hi instead of collapsing into a
      // silent chimera before the merge's check can see it
      batch => graft.operators.TextOps.minhashRegistryAudited(batch)) {
      (prev, inc) =>
        val sigCols = inc.columns
          .filterNot(Seq("doc_id", "ch_lo", "ch_hi").contains).toSeq
        // prev is either committed state (one content_hash per doc),
        // or the empty first-batch frame already in inc's audited
        // shape; anything else is pre-registry state that cannot
        // prove re-delivered docs unchanged
        val prevAudited =
          if (prev.columns.contains("ch_lo")) prev
          else {
            require(prev.columns.contains("content_hash"),
              "minhash state predates the content-hash registry " +
                prev.columns.mkString("(columns [", ", ", "]); ") +
                "it cannot prove re-delivered docs are unchanged. " +
                "Rebuild the state from the full corpus.")
            prev.select(col("doc_id") +:
              col("content_hash").as("ch_lo") +:
              col("content_hash").as("ch_hi") +: sigCols.map(col): _*)
          }
        val aggs = min(col("ch_lo")).as("ch_lo") +:
          max(col("ch_hi")).as("ch_hi") +:
          sigCols.map(c => min(col(c)).as(c))
        val merged = prevAudited.unionByName(inc).groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
        // the refusal RIDES the state write: projecting content_hash
        // raises on the first doc whose lo/hi hashes disagree — one
        // check catching both mutation shapes (across batches: state
        // hash vs batch hash; within the batch: the registry's own
        // spread) with ONE job per fold, no validation pre-pass and
        // no checkpoint. A refused write leaves at most a partial
        // version directory without _SUCCESS, which readers skip and
        // the replay overwrites.
        merged.select(col("doc_id") +:
          refuseOnMutation("doc", col("doc_id")).as("content_hash") +:
          sigCols.map(col): _*)
    }

  /** The shared refuse-on-mutation projection of the fold sinks: the
    * recorded content hash when the (lo, hi) pair agrees, a raised
    * error naming the offending key otherwise. Folding a mutated
    * record would keep state belonging to neither version — mutable
    * corpora need delete+reload, not an incremental fold. */
  private def refuseOnMutation(kind: String,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(col("ch_lo") =!= col("ch_hi"),
      raise_error(concat(
        lit(s"state refuses the fold: $kind "), key,
        lit(" was re-delivered with DIFFERENT content; an " +
          "incremental merge would keep state belonging to neither " +
          "version. Mutable records need delete+reload, not a fold."))))
      .otherwise(col("ch_lo"))

  /** Streaming SemDeDup state maintenance — the embedding analog of
    * [[minhashSink]]: each micro-batch's per-vector registry rows
    * (graft.operators.EmbeddingOps.embeddingRegistryAudited) fold
    * into the versioned state keyed on vec_id. The fold is pure
    * insert-if-absent: re-delivering a vector byte-identically is a
    * no-op (the incremental-state property), and a re-delivery whose
    * QUANTIZED content hash contradicts the recorded one — across
    * batches or within one — REFUSES the fold loudly, because
    * embeddings have no mergeable representation at all: there is no
    * monotone combine of two different vectors, so a mutated corpus
    * needs delete+reload. Semantic-dedup candidates then come from
    * [[graft.operators.EmbeddingOps.semanticDedup]] over [[foldState]],
    * off the hot path. Per batch: one keyed aggregate over the batch
    * + one keyed merge of the touched state shards, O(batch + touched
    * shards); embeddings move only
    * in the vec_id-keyed shuffle, never broadcast. */
  def embeddingSink(emb: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    versionedFoldSink(emb, statePath, checkpointLocation,
      n => pmod(hash(col("vec_id")), lit(n)), nShards)(
      batch =>
        graft.operators.EmbeddingOps.embeddingRegistryAudited(batch)) {
      (prev, inc) =>
        val prevAudited =
          if (prev.columns.contains("ch_lo")) prev
          else {
            require(prev.columns.contains("content_hash"),
              "embedding state carries no content hash (columns " +
                prev.columns.mkString("[", ", ", "]") +
                "); it cannot prove re-delivered vectors are " +
                "unchanged. Rebuild the state from the full corpus.")
            prev.select(col("vec_id"),
              col("content_hash").as("ch_lo"),
              col("content_hash").as("ch_hi"),
              col("embedding"), col("label"))
          }
        val merged = prevAudited.unionByName(inc)
          .groupBy(col("vec_id"))
          .agg(min(col("ch_lo")).as("ch_lo"),
            max(col("ch_hi")).as("ch_hi"),
            min_by(struct(col("embedding"), col("label")),
              col("ch_lo")).as("payload"))
        // refusal rides the write — see minhashSink: one job per fold
        merged.select(col("vec_id"),
          refuseOnMutation("vector", col("vec_id")).as("content_hash"),
          col("payload.embedding").as("embedding"),
          col("payload.label").as("label"))
    }

  /** Streaming bigram-LM maintenance — the MODEL-maintenance member
    * of the fold-sink family: each micro-batch's bigram counts fold
    * ADDITIVELY into the versioned state, so the perplexity filter's
    * model ([[graft.operators.TextOps.lmScore]]) stays current over an
    * incrementally-built corpus without retraining from scratch.
    * Unlike min/insert-if-absent folds, count addition is NOT
    * idempotent — a re-delivered document would silently double-count
    * — so the state carries BOTH parts in one frame, discriminated by
    * `kind`:
    *  - `d` rows: the audited doc registry (doc_id, content-hash
    *    lo/hi) — every doc ever delivered;
    *  - `g` rows: the aggregated bigram counts (lhs, rhs, c).
    * The merge adds only the bigram counts of docs ABSENT from the
    * registry (anti-join on doc_id), making byte-identical re-delivery
    * a no-op at any slicing; a re-delivery with CHANGED content
    * refuses the fold loudly via the shared (lo, hi) projection —
    * subtracting the old text's counts is exactly the delete a
    * monotone fold cannot express. Batch-level replay is handled by
    * the protocol's versioning as everywhere.
    *
    * Scale shape per batch: one keyed registry aggregate + one bigram
    * count over the batch, one anti-join on doc_id, one (lhs, rhs)
    * count merge over the touched shards — O(batch + touched shards),
    * all keyed shuffles, the model is
    * never broadcast. Read the model back with [[lmModelState]];
    * score with TextOps.lmScoreWith, off the hot path. */
  def lmSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards, lmSpec)

  /** One additive fold's full definition — increment builder, merge
    * keys, additive columns, the content-hash expression covering
    * every input the increment is a function of, sidecar params, and
    * the label pre-filter — shared by the SINK (fold), and by
    * [[additiveStateDelete]] (exact subtraction), so the two
    * directions cannot drift. */
  private final case class AdditiveSpec(
      gOf: DataFrame => DataFrame,
      gKeys: Seq[String], gCounts: Seq[String],
      contentHash: org.apache.spark.sql.Column,
      params: Map[String, String] = Map.empty,
      preFilter: DataFrame => DataFrame = identity)

  private def additiveSinkOf(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int, spec: AdditiveSpec)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    registryAdditiveFoldSink(spec.preFilter(docs), statePath,
      checkpointLocation, nShards, spec.params)(
      spec.gOf, spec.gKeys, spec.gCounts, spec.contentHash)

  // bigram counts are a function of the text alone
  private def lmSpec: AdditiveSpec = AdditiveSpec(
    batch => graft.operators.TextOps.docBigrams(batch)
      .withColumnRenamed("k", "c"),
    Seq("lhs", "rhs"), Seq("c"), md5(col("text")))

  /** Streaming DSIR distribution maintenance — the second additive
    * member of the fold family ([[lmSink]] is the first; they share
    * [[registryAdditiveFoldSink]]): each micro-batch's per-doc
    * hashed-feature bucket counts fold into the two-sided
    * (bucket, c_t, c_r) distribution, keeping the importance-weight
    * model (graft.operators.TextOps.dsirWeightWith) current over an
    * incrementally-collected corpus. The side split happens at
    * increment time (a doc's counts land in c_t or c_r by its
    * `source`), so the state stays in the additive raw-count domain —
    * the quantized logs are computed at serving, never stored. Read
    * back with [[dsirDistState]]. */
  def dsirSink(docs: DataFrame, targetSource: String,
      statePath: String, checkpointLocation: String,
      nBuckets: Int = graft.operators.TextOps.DsirDefaultBuckets,
      nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    // targetSource and nBuckets are pinned in the state's `_params`:
    // a resume with a flipped target or a different bucket modulus
    // would fold NEW docs — which the doc-registry refusal cannot
    // catch, they are genuinely new — under an incompatible
    // side-split/hashing into the same counts. bindParams refuses at
    // sink bind; [[dsirStateParams]]/[[dsirScoreState]] give serving
    // the stored values so the modulus cannot drift there either
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      dsirSpec(targetSource, nBuckets))

  // the DSIR increment is a function of (text, source): a doc
  // re-classified to the other side with IDENTICAL text must
  // refuse, not slide through as byte-identical re-delivery —
  // hashing the text hash + source keeps the pair unambiguous
  // (md5 is fixed-width, no separator injection)
  private def dsirSpec(targetSource: String,
      nBuckets: Int): AdditiveSpec = AdditiveSpec(
    batch => graft.operators.TextOps.dsirPerDoc(batch, nBuckets)
      .select(col("doc_id"), col("bucket"),
        when(col("source") === targetSource, col("k"))
          .otherwise(lit(0L)).as("c_t"),
        when(col("source") =!= targetSource, col("k"))
          .otherwise(lit(0L)).as("c_r")),
    Seq("bucket"), Seq("c_t", "c_r"),
    md5(concat(md5(col("text")), col("source"))),
    Map("targetSource" -> targetSource,
      "dsirBuckets" -> nBuckets.toString))

  /** The maintained two-sided distribution from a [[dsirSink]] state —
    * (bucket, c_t, c_r), the shape TextOps.dsirWeightWith serves
    * from. Bucket ids cannot reveal their modulus, so serve with the
    * STORED parameters ([[dsirStateParams]]) or use
    * [[dsirScoreState]], which reads them itself. */
  def dsirDistState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("bucket"), col("c_t"), col("c_r"))

  /** The (targetSource, nBuckets) a [[dsirSink]] state was built
    * with, from its write-once `_params` sidecar. */
  def dsirStateParams(s: org.apache.spark.sql.SparkSession,
      statePath: String): (String, Int) = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = readParams(fs, root)
    require(p.contains("targetSource") && p.contains("dsirBuckets"),
      s"state at $statePath carries no DSIR parameters " +
        p.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("(found {", ", ", "}); ") +
        "it was not written by dsirSink, or predates the parameter " +
        "sidecar — rebuild it (the bucket modulus cannot be " +
        "recovered from the data).")
    (p("targetSource"), p("dsirBuckets").toInt)
  }

  /** Score `docs` under a [[dsirSink]] state using the parameters the
    * state was BUILT with — the drift-proof serving path: the bucket
    * modulus and target side come from the state's own sidecar, so a
    * caller cannot accidentally serve under a mismatched hashing. */
  def dsirScoreState(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): DataFrame = {
    val (target, buckets) = dsirStateParams(s, statePath)
    graft.operators.TextOps.dsirWeightWith(docs,
      dsirDistState(s, statePath), target, buckets)
  }

  /** Marker "word" for the per-doc prior rows a [[nbSink]] state
    * carries next to its word counts: tokens are space-split, so a
    * key CONTAINING a space can never collide with a real token. */
  val NbDocSentinel = "# docs"

  /** Streaming NB-classifier model maintenance — the third additive
    * member of the fold family ([[lmSink]], [[dsirSink]]): each
    * micro-batch's labeled docs (source = pos/neg; others pass
    * through unfolded) add their per-word counts into the
    * (word, c_p, c_n) model, plus ONE sentinel-keyed row per doc
    * carrying the class-prior document counts — so the state holds
    * everything graft.operators.TextOps.nbScoreWith needs and stays
    * in the additive raw-count domain (smoothing + quantized logs
    * happen at serving, never in state). Read back with
    * [[nbModelState]] / [[nbPriorsState]], or serve drift-proof via
    * [[nbScoreState]]. */
  def nbSink(docs: DataFrame, posSource: String, negSource: String,
      statePath: String, checkpointLocation: String,
      nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    // the label sources are pinned in `_params`: resuming with
    // flipped/different labels would fold NEW docs' counts into the
    // wrong class columns — invisible to the doc registry (new docs
    // are genuinely new), so it must refuse at bind
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      nbSpec(posSource, negSource))

  // the increment is a function of (text, source) — a doc re-labeled
  // to the other class with identical text is a mutation, not a
  // re-delivery (the dsirSink rationale); unlabeled sources never
  // fold (the preFilter), so they are absent from the registry
  private def nbSpec(posSource: String,
      negSource: String): AdditiveSpec = AdditiveSpec(
    batch => {
      val wc = batch.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("source"), col("word"))
        .agg(count(lit(1)).as("k"))
        .select(col("doc_id"), col("word"),
          when(col("source") === posSource, col("k"))
            .otherwise(lit(0L)).as("c_p"),
          when(col("source") === negSource, col("k"))
            .otherwise(lit(0L)).as("c_n"))
      val marker = batch.select(col("doc_id"),
        lit(NbDocSentinel).as("word"),
        when(col("source") === posSource, lit(1L))
          .otherwise(lit(0L)).as("c_p"),
        when(col("source") === negSource, lit(1L))
          .otherwise(lit(0L)).as("c_n"))
      wc.unionByName(marker)
    },
    Seq("word"), Seq("c_p", "c_n"),
    md5(concat(md5(col("text")), col("source"))),
    Map("nbPosSource" -> posSource, "nbNegSource" -> negSource),
    preFilter = _.where(col("source").isin(posSource, negSource)))

  /** The maintained NB word-count model from a [[nbSink]] state —
    * (word, c_p, c_n), the shape TextOps.nbScoreWith serves from. */
  def nbModelState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath)
      .where(col("kind") === "g" && col("word") =!= NbDocSentinel)
      .select(col("word"), col("c_p"), col("c_n"))

  /** The class-prior document counts from a [[nbSink]] state — a
    * 1-row (d_p, d_n) frame folded from the sentinel rows. */
  def nbPriorsState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath)
      .where(col("kind") === "g" && col("word") === NbDocSentinel)
      .agg(coalesce(sum(col("c_p")), lit(0L)).as("d_p"),
        coalesce(sum(col("c_n")), lit(0L)).as("d_n"))

  /** The (posSource, negSource) a [[nbSink]] state was built with,
    * from its write-once `_params` sidecar. */
  def nbStateParams(s: org.apache.spark.sql.SparkSession,
      statePath: String): (String, String) = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = readParams(fs, root)
    require(p.contains("nbPosSource") && p.contains("nbNegSource"),
      s"state at $statePath carries no NB label parameters " +
        p.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("(found {", ", ", "}); ") +
        "it was not written by nbSink, or predates the parameter " +
        "sidecar — rebuild it (the label split cannot be recovered " +
        "from the counts).")
    (p("nbPosSource"), p("nbNegSource"))
  }

  /** Score `docs` under a [[nbSink]] state — the drift-proof serving
    * path: label sources come from the state's own sidecar. */
  def nbScoreState(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): DataFrame =
    graft.operators.TextOps.nbScoreWith(docs,
      nbModelState(s, statePath), nbPriorsState(s, statePath))

  /** Streaming line-frequency maintenance — the fourth additive fold
    * ([[lmSink]], [[dsirSink]], [[nbSink]]): each micro-batch's docs
    * add 1 per DISTINCT line they contain into the (h, df) table that
    * graft.operators.TextOps.dedupLinesWith serves from — the
    * incremental CCNet boilerplate filter: new crawl batches are
    * scrubbed of chrome the accumulated corpus has already seen,
    * without re-counting it. Only 16-byte line hashes enter the
    * state (the payload-width discipline); df stays additive because
    * the registry guarantees each doc folds once. */
  def lineDfSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      lineDfSpec)

  // line membership is a function of the text alone
  private def lineDfSpec: AdditiveSpec = AdditiveSpec(
    batch => batch.select(col("doc_id"),
        explode(split(col("text"), "\n")).as("line"))
      .select(col("doc_id"), md5(col("line")).as("h")).distinct()
      .withColumn("df", lit(1L)),
    Seq("h"), Seq("df"), md5(col("text")))

  /** The maintained (h, df) line-frequency table from a
    * [[lineDfSink]] state. */
  def lineDfState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("h"), col("df"))

  /** Scrub `docs` of boilerplate lines the maintained table has seen
    * in at least `minDf` docs — [[lineDfSink]]'s serving half. */
  def dedupLinesState(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame, minDf: Int = 2): DataFrame =
    graft.operators.TextOps.dedupLinesWith(docs,
      lineDfState(s, statePath), minDf)

  /** Streaming per-source corpus data card — the FIFTH additive fold:
    * g-rows keyed by (source, lang, n_tokens) with additive counts
    * (n_docs, sum_chars). That histogram is the exact sufficient
    * statistic for [[graft.operators.TextOps.corpusReport]]: totals,
    * minima/maxima, language diversity, and the short-doc count all
    * derive from it at serve time ([[corpusReportState]]), so the
    * maintained state reproduces the batch report EXACTLY while the
    * state itself stays purely additive — a distinct-count or min/max
    * state column would not merge. State cardinality is
    * sources x langs x token-length range (corpus-shape-bounded,
    * never corpus-sized); the registry makes re-delivery a no-op and
    * refuses mutated content, so the published card cannot silently
    * double-count an ingest retry. */
  def corpusSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      corpusSpec)

  // the card is a function of (text, source, lang): a doc
  // re-delivered re-classified or re-labeled must refuse, not
  // slide through (fixed-width md5 prefix keeps it unambiguous)
  private def corpusSpec: AdditiveSpec = AdditiveSpec(
    batch => batch.select(col("doc_id"), col("source"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      lit(1L).as("n_docs"),
      length(col("text")).cast("long").as("sum_chars")),
    Seq("source", "lang", "n_tokens"), Seq("n_docs", "sum_chars"),
    md5(concat(md5(col("text")), col("source"), lit("|"),
      col("lang"))))

  /** The per-source data card served from a [[corpusSink]] state —
    * column-for-column [[graft.operators.TextOps.corpusReport]]. */
  def corpusReportState(s: org.apache.spark.sql.SparkSession,
      statePath: String, shortTokens: Int = 5): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("source"), col("lang"), col("n_tokens"),
        col("n_docs"), col("sum_chars"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens") * col("n_docs")).as("total_tokens"),
        sum(col("sum_chars")).as("total_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(when(col("n_tokens") < shortTokens, col("n_docs"))
          .otherwise(0L)).as("n_short"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_tokens"), col("total_chars"), col("min_tokens"),
        col("max_tokens"),
        (col("total_tokens").cast("double") / col("n_docs"))
          .as("avg_tokens"),
        expr("n_short * 1000 div n_docs").as("short_permille"))

  /** Temperature mixing served from a [[corpusSink]] state: the
    * per-source token totals come from the maintained histogram
    * (sum over its (source, lang, n_tokens) rows of
    * n_tokens * n_docs — exact, since the registry folds each doc
    * once), so a fresh batch mixes under the ACCUMULATED corpus's
    * rates. Equal to batch mixTemperature over the full delivered
    * corpus when `docs` IS that corpus. */
  def mixTemperatureState(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame, q: Int = 2): DataFrame =
    graft.operators.TextOps.mixTemperatureWith(docs,
      foldState(s, statePath).where(col("kind") === "g")
        .groupBy(col("source"))
        .agg(sum(col("n_tokens") * col("n_docs")).as("source_tokens")),
      q)

  /** The INCREMENTAL curation funnel — [[graft.operators.TextOps
    * .curate]]'s streaming twin, served entirely from maintained fold
    * states: (1) exact-dedup survivors from a [[dedupExactSink]]
    * state, (2) cross-doc line excision from a [[lineDfSink]] state,
    * (3) the LM perplexity gate from an [[lmSink]] state, (4)
    * temperature mixing from a [[corpusSink]] state, then (5)
    * sequence packing. The corpus arrives in micro-batches that fold
    * into the four states; serving composes the FINAL states over the
    * accumulated docs, so sliced delivery at any slicing equals one
    * batch run of the same composition (StreamDedupParitySpec's
    * full-funnel end cap).
    *
    * Model-population note, stated loudly: the batch [[graft
    * .operators.TextOps.curate]] trains each stage's model on the
    * PREVIOUS stage's survivors; the maintained states fold over the
    * DELIVERED corpus (a fold cannot retract a doc a later stage
    * would have dropped), so the two funnels' models see different
    * populations by design. The parity this twin pins is
    * sliced-vs-batch of the SAME state-served composition — the
    * incremental-correctness claim — not equality with the
    * batch-survivor-trained chain. */
  def curateState(s: org.apache.spark.sql.SparkSession,
      dedupStatePath: String, lineStatePath: String,
      lmStatePath: String, corpusStatePath: String, docs: DataFrame,
      minDf: Int = 2, lmKeepMilli: Long = 3950L,
      packBudget: Long = 512L, packShard: Long = 200L): DataFrame = {
    import graft.operators.{Stage, TextOps}
    import Stage.PinOps
    val kept = foldState(s, dedupStatePath)
      .select(col("kept_doc_id").as("doc_id"))
    val d1 = docs.join(kept, Seq("doc_id")).pinned
    val d2 = d1.drop("text")
      .join(dedupLinesState(s, lineStatePath, d1, minDf)
        .where(col("text_deduped") =!= "")
        .select(col("doc_id"), col("text_deduped").as("text")),
        Seq("doc_id"))
      .pinned
    val d3 = d2.join(
      TextOps.lmScoreWith(d2, lmModelState(s, lmStatePath))
        .where(col("nll_sum") * 1000 <= col("n_bigrams") * lmKeepMilli)
        .select(col("doc_id")), Seq("doc_id")).pinned
    val d4 = d3.join(
      mixTemperatureState(s, corpusStatePath, d3).select(col("doc_id")),
      Seq("doc_id")).pinned
    TextOps.seqPack(d4, packBudget, packShard)
  }

  /** Streaming BM25 collection-statistics maintenance — the SIXTH
    * additive fold: per-batch (word, df, tok) rows (df = 1 per
    * distinct doc containing the word) plus the per-doc sentinel
    * totals row fold into graft.operators.TextOps.bm25Stats's exact
    * frame, keeping retrieval's document frequencies and length
    * normalization current over an incrementally-collected corpus
    * without rescanning it. The registry makes re-delivery a no-op
    * and refuses mutated content — BM25 stats, like all count folds,
    * cannot subtract. Serve with [[bm25TopKState]].
    *
    * DELIBERATELY NOT a postings fold. This state carries collection
    * statistics only — it ranks a FRESH batch against the collected
    * corpus's df/length model ([[bm25TopKState]]); it cannot serve
    * top-k over the collected corpus itself, because per-(word, doc)
    * tf postings are not in it. That is a scale decision, not a gap:
    * a postings fold would put O(corpus postings) rows in fold state
    * (~|tokens| rows per doc vs the registry folds' one) and touch
    * nearly every state shard on every micro-batch — an O(state)
    * rewrite per trigger. The canonical incremental path for the
    * SERVING index is graft.operators.TextOps.bm25IndexAppend: each
    * ingest batch lands as one O(batch) immutable postings segment
    * under the crash-atomic manifest (dedup re-delivery against this
    * fold's registry first, as the e2e spec pins), serving prunes by
    * term buckets across segments, and compaction consolidates —
    * identical to how the MinHash and vector families ingest
    * incrementally. The same applies to them: registry folds guard
    * re-delivery; segment appends grow the index. */
  def bm25Sink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      bm25Spec)

  // word membership and length are functions of the text alone
  private def bm25Spec: AdditiveSpec = AdditiveSpec(
    batch => batch.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word")).distinct()
      .withColumn("df", lit(1L)).withColumn("tok", lit(0L))
      .unionByName(batch.select(col("doc_id"),
        lit(graft.operators.TextOps.Bm25Sentinel).as("word"),
        lit(1L).as("df"),
        size(split(col("text"), " ")).cast("long").as("tok"))),
    Seq("word"), Seq("df", "tok"), md5(col("text")))

  /** The maintained (word, df, tok) BM25 statistic from a
    * [[bm25Sink]] state — column-for-column
    * graft.operators.TextOps.bm25Stats. */
  def bm25StatsState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("word"), col("df"), col("tok"))

  /** Rank a fresh batch against the maintained collection statistics
    * — [[bm25Sink]]'s serving half
    * (graft.operators.TextOps.bm25TopKWith). */
  def bm25TopKState(s: org.apache.spark.sql.SparkSession,
      statePath: String, batch: DataFrame, terms: Seq[String],
      k: Int = 10): DataFrame =
    graft.operators.TextOps.bm25TopKWith(batch,
      bm25StatsState(s, statePath), terms, k)

  /** Streaming TRIGRAM count maintenance — the SEVENTH additive fold,
    * one model order above [[lmSink]]: per-batch (w1, w2, w3, c_abc)
    * counts fold under the same registry guard, keeping the laddered
    * backoff's top rung (graft.operators.TextOps.lmScoreTrigramWith)
    * current incrementally. Pair with an [[lmSink]] state over the
    * same feed for the bigram/unigram rungs; [[lmScoreTrigramState]]
    * serves from the two states together. */
  def lmTrigramSink(docs: DataFrame, statePath: String,
      checkpointLocation: String, nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      lmTrigramSpec)

  // trigram counts are a function of the text alone
  private def lmTrigramSpec: AdditiveSpec = AdditiveSpec(
    batch => graft.operators.TextOps.docTrigramsOf(batch)
      .withColumnRenamed("k", "c_abc"),
    Seq("w1", "w2", "w3"), Seq("c_abc"), md5(col("text")))

  /** The maintained trigram model from a [[lmTrigramSink]] state —
    * column-for-column graft.operators.TextOps.lmTrigramModel. */
  def lmTrigramModelState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("w1"), col("w2"), col("w3"), col("c_abc"))

  /** Laddered trigram scoring served from MAINTAINED states: the
    * trigram rung from a [[lmTrigramSink]] state, the bigram/unigram
    * rungs from an [[lmSink]] state over the same corpus. */
  def lmScoreTrigramState(s: org.apache.spark.sql.SparkSession,
      triStatePath: String, biStatePath: String,
      docs: DataFrame): DataFrame =
    graft.operators.TextOps.lmScoreTrigramWith(docs,
      lmTrigramModelState(s, triStatePath),
      lmModelState(s, biStatePath))

  /** Streaming per-column value-count maintenance — the EIGHTH
    * additive fold: the skew/profile watchlist
    * ([[graft.operators.Checks.heavyHitters]]) kept current over an
    * incrementally-collected corpus. Each micro-batch melts its
    * docs' profiled columns to (col_name, value) and adds 1 per
    * non-null cell; the state is the exact (col_name, value, cnt)
    * distribution, from which per-column top-k and exact NDV derive
    * at serve time while the state itself stays purely additive.
    * The profiled column LIST is pinned in `_params` — a resume with
    * a different list would fold a different melt into the same
    * counts, which the doc registry cannot catch. State cardinality
    * is the sum of per-column distinct-value counts (the batch
    * operator's shuffle bound): profile deliberate categorical
    * columns, not free text. */
  def profileSink(docs: DataFrame, cols: Seq[String],
      statePath: String, checkpointLocation: String,
      nShards: Int = DefaultStateShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    additiveSinkOf(docs, statePath, checkpointLocation, nShards,
      profileSpec(cols))

  // the melt is a function of the profiled columns alone; the hash
  // concatenates FIXED-WIDTH md5 segments per column (corpusSpec's
  // discipline), so no value can smuggle a separator
  private def profileSpec(cols: Seq[String]): AdditiveSpec = {
    require(cols.nonEmpty && cols.distinct.size == cols.size,
      "profiled columns must be non-empty and distinct")
    // the column list round-trips through the `_params` sidecar as a
    // comma-joined value in a key=value line format; a name carrying
    // the list separator or the sidecar's structural characters would
    // parse back as a DIFFERENT list and silently melt the wrong
    // columns on state deletion ([[profileStateDelete]]) — refuse at
    // construction, mirroring [[graft.operators.Checks]]'s rule-name
    // validation
    require(cols.forall(c => c.nonEmpty &&
        !c.exists(ch => ch == ',' || ch == '=' || ch == '\n' ||
          ch == '\r')),
      "profiled column names must be non-empty and must not contain " +
        "',', '=', or newlines (they are pinned comma-joined in the " +
        "state's _params sidecar)")
    AdditiveSpec(
      batch => batch
        .select(col("doc_id"), explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col(c).cast("string").as("value"))): _*)).as("kv"))
        .select(col("doc_id"), col("kv.col_name"), col("kv.value"))
        .where(col("value").isNotNull)
        .withColumn("cnt", lit(1L)),
      Seq("col_name", "value"), Seq("cnt"),
      concat(cols.map(c =>
        md5(coalesce(col(c).cast("string"), lit("<NULL>")))): _*),
      Map("profileCols" -> cols.mkString(",")))
  }

  /** The maintained (col_name, value, cnt) distribution from a
    * [[profileSink]] state. */
  def profileValueState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("col_name"), col("value"), col("cnt"))

  /** The profiled column list a [[profileSink]] state was built
    * with, from its write-once `_params` sidecar. */
  def profileStateCols(s: org.apache.spark.sql.SparkSession,
      statePath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = readParams(fs, root)
    require(p.contains("profileCols"),
      s"state at $statePath carries no profiled-column parameter " +
        p.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("(found {", ", ", "}); ") +
        "it was not written by profileSink, or predates the " +
        "parameter sidecar — rebuild it (the melt cannot be " +
        "recovered from the counts).")
    p("profileCols").split(',').toSeq
  }

  /** Exact per-column top-k from a [[profileSink]] state —
    * column-for-column [[graft.operators.Checks.heavyHitters]] over
    * the accumulated corpus (the parity the spec pins), served
    * without rescanning it. */
  def heavyHittersState(s: org.apache.spark.sql.SparkSession,
      statePath: String, k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name"))
      .orderBy(col("cnt").desc, col("value").asc)
    profileValueState(s, statePath)
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
  }

  /** The shared registry-guarded ADDITIVE fold behind [[lmSink]] and
    * [[dsirSink]]: count addition is not idempotent, so the state
    * carries two row kinds in one frame — `d` rows, the audited doc
    * registry (the [[minhashSink]] (ch_lo, ch_hi) discipline), and
    * `g` rows, the aggregated counts keyed by `gKeys` with additive
    * columns `gCounts`. The merge sums in ONLY the g-rows of docs
    * absent from the registry (anti-join on doc_id): byte-identical
    * re-delivery is a no-op at any slicing, changed content refuses
    * the fold via the shared (lo, hi) projection riding the write.
    * `gOf` maps a doc-deduped batch to its per-doc g-rows
    * (doc_id, gKeys..., gCounts...) — per ONE copy of each doc, so
    * in-batch duplicates never double-count (identical copies are
    * idempotent; differing ones refuse via the registry's spread).
    * `contentHash` must cover EVERY input column the g-rows are a
    * function of (text alone for the LM; text + source for DSIR — a
    * re-classified doc is a mutation, not a re-delivery); a NULL in
    * any covered column folds to a sentinel so min/max cannot skip
    * the copy and silently collapse a genuine spread. */
  private def registryAdditiveFoldSink(docs: DataFrame,
      statePath: String, checkpointLocation: String,
      nShards: Int,
      params: Map[String, String])(
      gOf: DataFrame => DataFrame,
      gKeys: Seq[String], gCounts: Seq[String],
      contentHash: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val nulS = lit(null).cast("string")
    val gAll = gKeys ++ gCounts
    val ch = coalesce(contentHash, lit("<null-content>"))
    // the two row kinds shard by their own merge keys — d-rows by
    // doc_id, g-rows by the group keys. Shard-locality still holds for
    // the registry anti-join: a g-row folds in iff its doc is new, and
    // the batch's doc_ids hash into d-shards the batch itself touches,
    // so the restricted predecessor read always contains every
    // registry row the anti-join can match
    val shardOf = (n: Int) => when(col("kind") === "d",
      pmod(hash(col("doc_id")), lit(n)))
      .otherwise(pmod(hash(gKeys.map(col): _*), lit(n)))
    versionedFoldSink(docs, statePath, checkpointLocation,
      shardOf, nShards, params)({ batch =>
      val g0 = gOf(batch.dropDuplicates("doc_id"))
      val gNulls = gAll.map(n => lit(null).cast(g0.schema(n).dataType).as(n))
      val d = batch.groupBy(col("doc_id"))
        .agg(min(ch).as("ch_lo"), max(ch).as("ch_hi"))
        .select(lit("d").as("kind") +: col("doc_id") +: col("ch_lo") +:
          col("ch_hi") +: gNulls: _*)
      val g = g0.select(lit("g").as("kind") +: col("doc_id") +:
        nulS.as("ch_lo") +: nulS.as("ch_hi") +: gAll.map(col): _*)
      d.unionByName(g)
    }) { (prev, inc) =>
      val prevD = prev.where(col("kind") === "d")
      val prevG = prev.where(col("kind") === "g")
      val incD = inc.where(col("kind") === "d")
      val gNulls = gAll.map(n => lit(null).cast(inc.schema(n).dataType).as(n))
      // derive the null doc_id's type from the increment schema like
      // the gNulls columns — a hard-coded "long" would silently
      // union-coerce a future fold member with non-long doc ids
      val nulDoc = lit(null).cast(inc.schema("doc_id").dataType)
      // the audited registry merge (the minhashSink discipline): the
      // refusal projection rides the state write — one job per fold
      val mergedD = prevD.unionByName(incD).groupBy(col("doc_id"))
        .agg(min(col("ch_lo")).as("ch_lo"), max(col("ch_hi")).as("ch_hi"))
        .select(col("doc_id"),
          refuseOnMutation("doc", col("doc_id")).as("ch"))
        .select(lit("d").as("kind") +: col("doc_id") +:
          col("ch").as("ch_lo") +: col("ch").as("ch_hi") +: gNulls: _*)
      // only counts of docs the registry has never seen fold in —
      // byte-identical re-delivery at any slicing is a no-op
      val newIds = incD.select(col("doc_id"))
        .join(prevD.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val addG = inc.where(col("kind") === "g")
        .join(newIds, Seq("doc_id"))
        .select(gAll.map(col): _*)
      val mergedG = prevG.select(gAll.map(col): _*)
        .unionByName(addG)
        .groupBy(gKeys.map(col): _*)
        .agg(sum(col(gCounts.head)).as(gCounts.head),
          gCounts.tail.map(c => sum(col(c)).as(c)): _*)
        .select(lit("g").as("kind") +: nulDoc.as("doc_id") +:
          nulS.as("ch_lo") +: nulS.as("ch_hi") +: gAll.map(col): _*)
      mergedD.unionByName(mergedG)
    }
  }

  /** The maintained bigram model from a [[lmSink]] state — (lhs, rhs,
    * c_ab), the shape TextOps.lmScoreWith serves from. */
  def lmModelState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    foldState(s, statePath).where(col("kind") === "g")
      .select(col("lhs"), col("rhs"), col("c").as("c_ab"))

  /** The shared versioned-fold protocol behind [[dedupExactSink]],
    * [[minhashSink]], [[embeddingSink]] and the additive family:
    * per-batch increment `incOf`, monotone state merge `merge`,
    * batchId-versioned parquet state with run-marker binding,
    * _SUCCESS-gated predecessors, and replay-idempotent overwrite
    * (see [[dedupExactSink]]'s contract for the full rationale — the
    * invariants live HERE so every fold sink shares them).
    *
    * State is HASH-SHARDED: rows live under
    * `b<gen>/_shard=<pmod(hash(key), nShards)>`, and each generation
    * carries a manifest mapping every shard to the generation whose
    * directory holds its current data. A batch merges ONLY the shards
    * its increment's keys hash into and carries the rest forward by
    * manifest reference, so per-batch IO is O(batch + touched-shard
    * state), never O(all state) — the difference between folding a
    * 2-hourly batch of thousands into a registry of billions and
    * rewriting the billions every fold. Requirements this places on
    * the pieces: `shardOf` must be a pure function of each row's
    * merge key (so a key's rows — in prev, inc, and the merge output
    * — always land in one shard), and `merge` must be key-local and
    * never drop a shard's last row (folds here only add or update).
    * The one whole-state rewrite left is MIGRATION: a predecessor
    * generation with no manifest (pre-sharding layout) is read in
    * full and re-homed into shards once.
    *
    * Crash safety is unchanged from the unsharded protocol: the
    * generation is assembled data-first (tmp write, rename, manifest,
    * then the `_SUCCESS` marker, in that order), so a crash at any
    * point leaves an uncommitted generation that readers skip and
    * the replayed batch deletes and rewrites; the predecessor
    * generation — including every older shard directory its manifest
    * references — survives until the NEXT batch commits. */
  private def versionedFoldSink(docs: DataFrame, statePath: String,
      checkpointLocation: String,
      shardOf: Int => org.apache.spark.sql.Column,
      nShards: Int,
      params: Map[String, String] = Map.empty)
      (incOf: DataFrame => DataFrame)
      (merge: (DataFrame, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        // the increment feeds two jobs (touched-shard discovery and
        // the merge) — persist so the sink's work per batch stays one
        // increment computation
        val inc = incOf(batch.toDF()).persist()
        try {
          val root = new org.apache.hadoop.fs.Path(statePath)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          healGenSwaps(fs, root) // a crashed delete-application swap
          val versions = stateVersions(fs, root)
          bindRun(fs, root, checkpointQueryId(
            s.sparkContext.hadoopConfiguration, checkpointLocation),
            versions)
          bindParams(fs, root, params + ("nShards" -> nShards.toString),
            committedVersions(fs, root))
          // within a bound run, a version AHEAD of the current batch can
          // still appear if the checkpoint directory was cleared but the
          // marker-bearing statePath was not: folding from an empty
          // predecessor would silently discard its counts while readers
          // kept seeing the stale higher version — refuse instead
          require(versions.forall(_ <= batchId),
            s"versioned state at $statePath has version(s) " +
              versions.filter(_ > batchId).sorted.mkString("b", ", b", "") +
              s" ahead of batch $batchId; the checkpoint at " +
              s"$checkpointLocation was cleared or rewound. Clear " +
              "statePath together with the checkpoint.")
          // the predecessor is the latest version strictly below this
          // batch; under the sink's invariants it is always committed (a
          // crash-partial generation can only be the replayed batch
          // itself), so an uncommitted one means the marker protocol was
          // broken externally — fail loudly rather than silently fold
          // from an empty (or older) predecessor
          val prevId = versions.filter(_ < batchId).maxOption
          prevId.foreach { p =>
            require(fs.exists(
              new org.apache.hadoop.fs.Path(root, s"b$p/_SUCCESS")),
              s"state version b$p at $statePath has no _SUCCESS " +
                "marker; the sink cannot tell committed state from a " +
                "crash-truncated write without it. A partial " +
                "generation is only ever the replayed batch itself — " +
                "a marker-less PREDECESSOR means the state was " +
                "tampered with or the marker was removed.")
          }
          val prevGen = prevId.map(p =>
            new org.apache.hadoop.fs.Path(root, s"b$p"))
          val prevManifest = prevGen.flatMap(readShardManifest(fs, _))
          // a manifest-less predecessor is the pre-sharding layout:
          // migrate it — read in full, rewrite every shard, once
          val migrating = prevId.isDefined && prevManifest.isEmpty
          val touched: Seq[Int] =
            if (migrating) 0 until nShards
            else inc.select(shardOf(nShards).cast("int").as("s"))
              .distinct().collect().map(_.getInt(0)).toSeq
          val prevPaths: Seq[String] = (prevId, prevManifest) match {
            case (None, _) => Nil
            case (Some(p), None) => Seq(s"$statePath/b$p")
            case (_, Some(m)) => touched.flatMap(k =>
              m.get(k).map(g => s"$statePath/b$g/$ShardPrefix$k"))
          }
          val prev =
            if (prevPaths.isEmpty)
              s.createDataFrame(s.sparkContext.emptyRDD[
                org.apache.spark.sql.Row], inc.schema)
            else s.read.parquet(prevPaths: _*)
          // assemble the generation data-first: partitioned tmp write,
          // rename into place, manifest, then the commit marker — a
          // crash at any point leaves no marker
          val genPath = new org.apache.hadoop.fs.Path(root, s"b$batchId")
          fs.listStatus(root).map(_.getPath)
            .filter(_.getName.startsWith("_tmp-"))
            .foreach(fs.delete(_, true)) // orphans of crashed attempts
          val tmp = new org.apache.hadoop.fs.Path(root,
            "_tmp-" + java.util.UUID.randomUUID())
          // repartition by shard before the partitioned write: without
          // it every shuffle task holds rows of many shards and the
          // committer writes tasks x shards small files per
          // generation — at cluster scale a filesystem-metadata
          // problem. One keyed shuffle collapses that to one file per
          // touched shard, proportional to the data being written
          // anyway
          merge(prev, inc).withColumn("_shard", shardOf(nShards))
            .repartition(col("_shard"))
            .write.partitionBy("_shard").mode("overwrite")
            .parquet(tmp.toString)
          fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
          if (fs.exists(genPath)) fs.delete(genPath, true)
          fs.rename(tmp, genPath)
          val produced = fs.listStatus(genPath).map(_.getPath.getName)
            .filter(_.startsWith(ShardPrefix))
            .map(_.drop(ShardPrefix.length).toInt).toSet
          // merge-contract sanity: a touched shard that HAD state must
          // still have rows (folds add or update, never delete)
          val lost = touched.filter(k =>
            prevManifest.exists(_.contains(k)) && !produced.contains(k))
          require(lost.isEmpty,
            s"merge dropped every row of shard(s) ${lost.sorted.mkString(",")}" +
              s" at $statePath b$batchId; fold merges must never " +
              "delete a shard's last row.")
          // the MIGRATION batch has no predecessor manifest for the
          // check above to lean on, yet it is the highest-risk fold of
          // a state's lifetime (the one full re-homing rewrite): pin
          // it by coverage — every shard the predecessor's keys hash
          // into must exist in the produced set. One extra aggregate
          // over the legacy state, on the one batch that reads it in
          // full anyway.
          if (migrating) {
            val prevShards = prev.select(shardOf(nShards).cast("int")
              .as("s")).distinct().collect().map(_.getInt(0))
            val dropped = prevShards.filterNot(produced.contains)
            require(dropped.isEmpty,
              "migration dropped every row of shard(s) " +
                dropped.sorted.mkString(",") +
                s" at $statePath b$batchId; the re-homing rewrite " +
                "must cover every legacy key.")
          }
          val manifest = prevManifest.getOrElse(Map.empty[Int, Long])
            .view.filterKeys(k => !produced.contains(k)).toMap ++
            produced.map(_ -> batchId)
          writeShardManifest(fs, genPath, manifest)
          fs.create(new org.apache.hadoop.fs.Path(genPath, "_SUCCESS"))
            .close()
          // prune: keep the predecessor generation whole (a replay of
          // THIS batch folds from it again), and in generations older
          // than it keep exactly the shard directories the
          // predecessor's manifest still references — everything else
          // is unreachable
          prevId.foreach { p =>
            val keep = prevManifest.getOrElse(Map.empty[Int, Long])
            versions.filter(_ < p).foreach { v =>
              val vPath = new org.apache.hadoop.fs.Path(root, s"b$v")
              if (readShardManifest(fs, vPath).isEmpty)
                fs.delete(vPath, true) // pre-sharding: never referenced
              else {
                val dirs = fs.listStatus(vPath).map(_.getPath)
                  .filter(_.getName.startsWith(ShardPrefix))
                val stale = dirs.filter { d =>
                  val k = d.getName.drop(ShardPrefix.length).toInt
                  !keep.get(k).contains(v)
                }
                stale.foreach(fs.delete(_, true))
                if (dirs.length == stale.length) fs.delete(vPath, true)
              }
            }
          }
          ()
        } finally inc.unpersist()
    }

  /** The latest COMMITTED state written by a versioned fold sink
    * ([[dedupExactSink]], [[minhashSink]]): only generations carrying
    * the sink's _SUCCESS marker (written AFTER data and manifest)
    * qualify, so an in-flight or crash-truncated write is never read.
    * A sharded generation assembles from its manifest's referenced
    * shard directories; a pre-sharding generation reads whole. The returned frame is
    * lazy — the sink retains the predecessor for one batch, so read it
    * promptly (or persist it) if the stream is still running; a reader
    * that sits on the frame for multiple batches can race the sink's
    * pruning. */
  def foldState(s: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    healGenSwaps(fs, root)
    val versions = committedVersions(fs, root)
    require(versions.nonEmpty, s"no state committed at $statePath")
    val gen = new org.apache.hadoop.fs.Path(root, s"b${versions.max}")
    val raw = readShardManifest(fs, gen) match {
      case None => s.read.parquet(gen.toString) // pre-sharding layout
      case Some(m) =>
        require(m.nonEmpty, s"state at $statePath holds no rows")
        s.read.parquet(m.toSeq.sortBy(_._1).map { case (k, g) =>
          s"$statePath/b$g/$ShardPrefix$k" }: _*)
    }
    // committed tombstones ([[stateDelete]]) mask deleted records at
    // every read until compaction applies them physically — the
    // persisted-index serving discipline. States without a `_dels`
    // manifest (including every additive fold, whose stateDelete
    // refuses) skip the anti-join entirely.
    val (dg, dsegs) = graft.operators.EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_dels"))
    if (dg < 0 || dsegs.isEmpty) raw
    else {
      val key = registryKeyOf(raw.columns)
      raw.join(graft.operators.EmbeddingOps.tombstones(s, statePath,
        key), Seq(key), "left_anti")
    }
  }

  /** The per-record registry key of a fold state's schema — vec_id
    * for the embedding registry, doc_id for the text registries. */
  private def registryKeyOf(cols: Seq[String]): String =
    if (cols.contains("vec_id")) "vec_id" else "doc_id"

  /** Heal crashed generation swaps ([[compactState]]'s
    * delete-application arm swaps `b<N>` wholesale via the warehouse
    * rename-aside protocol): a `.b<N>.prev` sibling with no main
    * means the last run died between the two renames — restore it; a
    * `.prev` NEXT TO a main is the garbage a finished swap would have
    * deleted. Runs on every state read and every sink batch, so no
    * reader can see a rolled-back state for longer than the crash
    * window itself. */
  private def healGenSwaps(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.matches("\\.b\\d+\\.prev")).foreach { p =>
          val main = new org.apache.hadoop.fs.Path(root,
            p.getName.stripPrefix(".").stripSuffix(".prev"))
          if (!fs.exists(main))
            require(fs.rename(p, main),
              s"found a crashed generation swap (no $main, aside copy " +
                s"at $p) but could not restore it — rename it manually.")
          else fs.delete(p, true)
        }

  /** Doc-keyed DELETION from a per-record registry fold state — the
    * right-to-be-forgotten half the streaming registries were missing
    * (persisted indexes have had it via
    * graft.operators.EmbeddingOps.indexDelete): deletions land as
    * crash-atomic tombstone segments under `statePath/dels`, every
    * [[foldState]] read (and so every serving helper) anti-joins the
    * committed set, and [[compactState]] applies them physically and
    * clears them.
    *
    * WHICH states can delete: only the per-record registries — the
    * minhash signature registry ([[minhashSink]]) and the embedding
    * registry ([[embeddingSink]]) — where a record's entire state
    * contribution is its own row. The ADDITIVE model folds (lm /
    * trigram / dsir / nb / line-df / corpus / bm25 stats) hold
    * aggregated counts with NO per-doc contributions stored, so
    * subtraction is mathematically impossible from the state alone —
    * this call REFUSES them loudly (rebuild the state without the
    * deleted docs instead of silently serving counts that still
    * contain them). [[dedupExactSink]]'s content-hash-keyed aggregate
    * refuses for the same reason (the surviving min/count under a
    * member's removal is not recoverable).
    *
    * Caveats, stated loudly: a tombstone masks the record everywhere
    * but does not prevent RE-ADMISSION — the registry row is still in
    * the raw state until compaction, so a re-delivery of the deleted
    * doc with CHANGED content refuses as a mutation until
    * [[compactState]] physically removes the row (run it before
    * re-adding changed content); after compaction the doc folds as
    * new. Run deletes and compaction from the maintenance window the
    * compactor already requires (one maintainer at a time, stream
    * quiesced). */
  def stateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, ids: DataFrame,
      failpoint: String => Unit = _ => ()): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    healGenSwaps(fs, root)
    val versions = committedVersions(fs, root)
    require(versions.nonEmpty, s"no state committed at $statePath")
    val gen = new org.apache.hadoop.fs.Path(root, s"b${versions.max}")
    val cols = (readShardManifest(fs, gen) match {
      case None => s.read.parquet(gen.toString)
      case Some(m) => s.read.parquet(m.toSeq.sortBy(_._1)
        .map { case (k, g) => s"$statePath/b$g/$ShardPrefix$k" }: _*)
    }).columns.toSeq
    require(!cols.contains("kind"),
      s"state at $statePath is an ADDITIVE model fold (lm/trigram/" +
        "dsir/nb/line-df/corpus/bm25): its counts hold no per-doc " +
        "contributions, so a doc's mass cannot be subtracted from " +
        "the state alone — refusing to tombstone what serving could " +
        "never honor. Deletion IS possible with the doc's original " +
        "content: use the payload-verified route " +
        "(lmStateDelete / dsirStateDelete / nbStateDelete / " +
        "lineDfStateDelete / corpusStateDelete / bm25StateDelete / " +
        "lmTrigramStateDelete), which verifies the payload against " +
        "the registry hash and subtracts exactly.")
    require(cols.contains("doc_id") || cols.contains("vec_id"),
      s"state at $statePath is keyed by an aggregate " +
        cols.mkString("(columns [", ", ", "]); ") +
        "it has no per-record registry rows to delete. Rebuild the " +
        "state without the deleted records.")
    val key = registryKeyOf(cols)
    val keyed =
      if (ids.columns.contains(key)) ids.select(col(key))
      else {
        require(ids.columns.length == 1,
          s"deletion ids must carry the state's key column '$key' " +
            ids.columns.mkString("(got [", ", ", "])"))
        ids.withColumnRenamed(ids.columns.head, key)
      }
    graft.operators.EmbeddingOps.tombstoneAppend(s, root, keyed, key,
      failpoint)
  }

  /** Consolidate a fold state's manifest chain — the maintenance twin
    * of Warehouse.compact for [[versionedFoldSink]] states. After many
    * batches the current generation's manifest references shard
    * directories scattered over up to nShards OLDER generations (each
    * batch re-homes only the shards it touches), so a cold
    * [[foldState]] read fans over that many directories. Compaction
    * copies every such shard into the CURRENT generation's directory
    * and repoints the manifest at itself; the chain is then length 1
    * logically, and the NEXT committed batch's standard prune drops
    * the old directories physically (its predecessor — the compacted
    * generation — references nothing older).
    *
    * Compaction DELETES nothing: the predecessor generation and every
    * directory its manifest references stay untouched, so the sink's
    * crash-replay contract (a replayed batch deletes its own
    * generation wholesale and re-folds from the predecessor) is
    * preserved even when a replay races a finished compaction. Crash
    * safety of compaction itself: copied shard directories are
    * orphans until the single manifest swap, which stages the
    * complete new manifest at `.next`, deletes the main, and renames
    * — [[readShardManifest]] heals the missing-main window by
    * promoting a complete `.next`. A killed compaction is invisible
    * to readers and to the sink; re-running completes it. One
    * compactor at a time per state (the single-writer contract).
    *
    * Returns the number of shard directories re-homed (0 when the
    * state was already compact or is a pre-sharding layout).
    * `failpoint` instruments the crash windows for the recovery spec. */
  def compactState(s: org.apache.spark.sql.SparkSession,
      statePath: String,
      failpoint: String => Unit = _ => ()): Int = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    healGenSwaps(fs, root)
    val versions = committedVersions(fs, root)
    require(versions.nonEmpty, s"no state committed at $statePath")
    val m = versions.max
    val gen = new org.apache.hadoop.fs.Path(root, s"b$m")
    readShardManifest(fs, gen) match {
      case None => 0 // pre-sharding layout: one directory already
      case Some(manifest) if hasStateDels(fs, root) =>
        applyStateDeletes(s, statePath, fs, root, gen, m, manifest,
          failpoint)
      case Some(manifest) =>
        val stale = manifest.filter(_._2 != m).toSeq.sortBy(_._1)
        if (stale.isEmpty) 0
        else {
          // bounded driver loop: at most nShards entries by
          // construction. Each copy reads one shard directory and
          // writes it flat into the current generation; a leftover
          // from a crashed prior compaction is replaced wholesale.
          stale.foreach { case (k, g) =>
            val dest = new org.apache.hadoop.fs.Path(gen,
              s"$ShardPrefix$k")
            if (fs.exists(dest)) fs.delete(dest, true)
            val tmp = new org.apache.hadoop.fs.Path(gen,
              s".compact-$k-" + java.util.UUID.randomUUID())
            // natural parallelism: a shard is O(state/nShards) — at
            // cluster scale that is not a one-task write
            s.read.parquet(s"$statePath/b$g/$ShardPrefix$k")
              .write.parquet(tmp.toString)
            require(fs.rename(tmp, dest),
              s"could not move compacted shard $k into $gen")
          }
          failpoint("shards-copied")
          // the one committing swap: stage the full manifest, delete
          // the main, rename — a crash between the last two steps is
          // healed by readShardManifest's .next promotion
          val main = new org.apache.hadoop.fs.Path(gen, ManifestFile)
          val next = new org.apache.hadoop.fs.Path(gen,
            ManifestFile + ".next")
          val out = fs.create(next, true)
          try out.write(manifest.keys.toSeq.sorted
            .map(k => s""""$k":$m""").mkString("{", ",", "}")
            .getBytes("UTF-8"))
          finally out.close()
          failpoint("next-staged")
          fs.delete(main, false)
          failpoint("main-deleted")
          require(fs.rename(next, main),
            s"could not commit compacted manifest at $gen (staged at " +
              s"$next — readers heal it on the next read)")
          stale.size
        }
    }
  }

  /** EXACT deletion from an ADDITIVE model fold state, given the
    * deleted docs' ORIGINAL content — the payload-verified upgrade of
    * [[stateDelete]]'s refusal: the state alone cannot subtract a
    * doc's mass (no per-doc contributions are stored), but the
    * caller's payload can recompute the doc's exact increment, and
    * the registry's content hash PROVES the payload is byte-identical
    * to what was folded — so the subtraction is exact and the result
    * equals a state folded without the doc (addition is commutative;
    * the parity spec pins frame equality with a fresh fold over the
    * remaining corpus).
    *
    * Refusals, all loud and BEFORE any write: a doc absent from the
    * registry (never folded — nothing to subtract), a payload whose
    * hash contradicts the recorded one (subtracting the wrong
    * content would corrupt silently), an in-batch hash spread (two
    * different payloads for one doc), or any count that would go
    * negative after subtraction (impossible for a verified payload —
    * its presence means corruption).
    *
    * Mechanics: g-rows whose counts reach zero leave the state;
    * deleted docs' registry rows leave with them (so a later
    * re-delivery folds as new — deletion is also re-admission, the
    * shared caveat). The rewritten generation stages complete as a
    * hidden sibling and swaps in with the rename-aside protocol
    * ([[healGenSwaps]] heals the crash window); same maintenance
    * contract as the delete-applying compaction — one maintainer,
    * stream quiesced WITH its last batch checkpoint-committed: a
    * pending replay of the rewritten generation's own batch would
    * delete it wholesale and re-fold from the predecessor, silently
    * undoing the subtraction. */
  private def additiveStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame, spec: AdditiveSpec): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    healGenSwaps(fs, root)
    val versions = committedVersions(fs, root)
    require(versions.nonEmpty, s"no state committed at $statePath")
    val m = versions.max
    val gen = new org.apache.hadoop.fs.Path(root, s"b$m")
    val manifest = readShardManifest(fs, gen)
    val raw = (manifest match {
      case None => s.read.parquet(gen.toString)
      case Some(mf) =>
        require(mf.nonEmpty, s"state at $statePath holds no rows")
        s.read.parquet(mf.toSeq.sortBy(_._1).map { case (k, g) =>
          s"$statePath/b$g/$ShardPrefix$k" }: _*)
    }).persist()
    // every frame persisted below registers here so the finally block
    // releases it even when a refusal require fires mid-way — a
    // repeatedly-failing delete attempt must not accumulate cached
    // frames across a long-lived session (unpersist is a safe no-op
    // on an already-released frame)
    val pinnedFrames =
      scala.collection.mutable.ListBuffer[DataFrame](raw)
    try {
      require(raw.columns.contains("kind"),
        s"state at $statePath is not an additive model fold " +
          raw.columns.mkString("(columns [", ", ", "])"))
      val gAll = spec.gKeys ++ spec.gCounts
      val pf = spec.preFilter(docs).persist()
      pinnedFrames += pf
      val d = pf.dropDuplicates("doc_id")
      val ch = coalesce(spec.contentHash, lit("<null-content>"))
      // hash spread computed over ALL payload copies (before the
      // dedup) — two different payloads for one doc must refuse, not
      // let an arbitrary survivor decide what gets subtracted
      val dKeyed = pf.groupBy(col("doc_id"))
        .agg(min(ch).as("p_lo"), max(ch).as("p_hi"))
      // registry verification: every doc present, every payload hash
      // equal to the recorded content (state rows carry lo == hi —
      // the sink's refusal projection guarantees it at fold time)
      val reg = raw.where(col("kind") === "d")
        .select(col("doc_id"), col("ch_lo").as("reg_ch"))
      val checked = dKeyed.join(reg, Seq("doc_id"), "left").persist()
      pinnedFrames += checked
      val absent = checked.where(col("reg_ch").isNull).count()
      require(absent == 0,
        s"$absent doc(s) to delete are not in the registry at " +
          s"$statePath — never folded, nothing to subtract.")
      val mismatched = checked.where(col("p_lo") =!= col("p_hi") ||
        col("p_lo") =!= col("reg_ch")).count()
      require(mismatched == 0,
        s"$mismatched doc(s) supplied content that contradicts the " +
          s"registry at $statePath; subtracting a different version's " +
          "counts would corrupt the model silently. Supply the " +
          "ORIGINAL folded content.")
      checked.unpersist()
      // exact subtraction: the payload's recomputed increments,
      // negated, merge into the g-rows; zero rows leave the state
      val negG = spec.gOf(d)
        .select(spec.gKeys.map(col) ++
          spec.gCounts.map(c => (-col(c)).as(c)): _*)
      val mergedG = raw.where(col("kind") === "g")
        .select(gAll.map(col): _*)
        .unionByName(negG)
        .groupBy(spec.gKeys.map(col): _*)
        .agg(sum(col(spec.gCounts.head)).as(spec.gCounts.head),
          spec.gCounts.tail.map(c => sum(col(c)).as(c)): _*)
        .persist()
      pinnedFrames += mergedG
      val negative = mergedG.where(spec.gCounts
        .map(c => col(c) < 0).reduce(_ || _)).count()
      require(negative == 0,
        s"$negative model row(s) would go negative at $statePath — " +
          "a verified payload cannot over-subtract, so the state (or " +
          "the payload's hash coverage) is corrupt. Nothing written.")
      val nulS = lit(null).cast("string")
      val gNulls = gAll.map(n =>
        lit(null).cast(raw.schema(n).dataType).as(n))
      val nulDoc = lit(null).cast(raw.schema("doc_id").dataType)
      val keptD = raw.where(col("kind") === "d")
        .join(dKeyed.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(lit("d").as("kind") +: col("doc_id") +:
          col("ch_lo") +: col("ch_hi") +: gNulls: _*)
      val keptG = mergedG
        .where(spec.gCounts.map(c => col(c) =!= 0).reduce(_ || _))
        .select(lit("g").as("kind") +: nulDoc.as("doc_id") +:
          nulS.as("ch_lo") +: nulS.as("ch_hi") +: gAll.map(col): _*)
      // stage the complete replacement generation and swap it in —
      // the applyStateDeletes discipline, shard assignment identical
      // to the owning sink's
      val nSh = readParams(fs, root)
        .getOrElse("nShards", DefaultStateShards.toString).toInt
      val shard = when(col("kind") === "d",
        pmod(hash(col("doc_id")), lit(nSh)))
        .otherwise(pmod(hash(spec.gKeys.map(col): _*), lit(nSh)))
      val tmp = graft.operators.Warehouse
        .hiddenSibling(gen, ".subtract-tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (manifest.isDefined) {
        keptD.unionByName(keptG).withColumn("_shard", shard)
          .repartition(col("_shard"))
          .write.partitionBy("_shard").mode("overwrite")
          .parquet(tmp.toString)
        fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
          false)
        val produced = fs.listStatus(tmp).map(_.getPath.getName)
          .filter(_.startsWith(ShardPrefix))
          .map(_.drop(ShardPrefix.length).toInt).toSet
        // the applyStateDeletes rule: subtracting the whole corpus
        // would commit an empty manifest no reader accepts — refuse
        // before the swap; drop the state path for full teardown
        if (produced.isEmpty) {
          fs.delete(tmp, true)
          throw new IllegalArgumentException(
            "subtraction removes EVERY row from the state at " +
              s"$statePath — an all-deleted state has no readable " +
              "generation; drop the state path (and its stream " +
              "checkpoint) instead")
        }
        writeShardManifest(fs, tmp, produced.map(_ -> m).toMap)
        fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
          .close()
      } else {
        // pre-sharding layout: rewrite flat (readers treat a
        // manifest-less generation as one plain parquet directory).
        // Same delete-everything refusal as the manifest branch: a
        // subtraction that removes every row would swap in an empty
        // legacy state no reader accepts — refuse before the swap.
        val kept = keptD.unionByName(keptG)
        if (kept.isEmpty) {
          fs.delete(tmp, true)
          throw new IllegalArgumentException(
            "subtraction removes EVERY row from the state at " +
              s"$statePath — an all-deleted state has no readable " +
              "generation; drop the state path (and its stream " +
              "checkpoint) instead")
        }
        kept.write.mode("overwrite").parquet(tmp.toString)
      }
      graft.operators.Warehouse.swapInto(fs, tmp, gen)
      ()
    } finally {
      pinnedFrames.foreach(_.unpersist())
      ()
    }
  }

  /** [[additiveStateDelete]] for an [[lmSink]] bigram-LM state. */
  def lmStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs, lmSpec)

  /** [[additiveStateDelete]] for an [[lmTrigramSink]] state. */
  def lmTrigramStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs, lmTrigramSpec)

  /** [[additiveStateDelete]] for a [[dsirSink]] state — the side
    * split and bucket modulus come from the state's own sidecar, so
    * the subtraction cannot run under drifted parameters. */
  def dsirStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit = {
    val (target, buckets) = dsirStateParams(s, statePath)
    additiveStateDelete(s, statePath, docs, dsirSpec(target, buckets))
  }

  /** [[additiveStateDelete]] for an [[nbSink]] state — label sources
    * from the sidecar; docs outside the two classes never folded and
    * are filtered exactly as the sink filters them. */
  def nbStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit = {
    val (pos, neg) = nbStateParams(s, statePath)
    additiveStateDelete(s, statePath, docs, nbSpec(pos, neg))
  }

  /** [[additiveStateDelete]] for a [[lineDfSink]] state. */
  def lineDfStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs, lineDfSpec)

  /** [[additiveStateDelete]] for a [[corpusSink]] state. */
  def corpusStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs, corpusSpec)

  /** [[additiveStateDelete]] for a [[bm25Sink]] state. */
  def bm25StateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs, bm25Spec)

  /** [[additiveStateDelete]] for a [[profileSink]] state — the
    * profiled column list comes from the state's own sidecar, so the
    * subtraction melts exactly what the sink folded. */
  def profileStateDelete(s: org.apache.spark.sql.SparkSession,
      statePath: String, docs: DataFrame): Unit =
    additiveStateDelete(s, statePath, docs,
      profileSpec(profileStateCols(s, statePath)))

  private def hasStateDels(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val (dg, dsegs) = graft.operators.EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_dels"))
    dg >= 0 && dsegs.nonEmpty
  }

  /** [[compactState]]'s delete-application arm: with committed
    * tombstones ([[stateDelete]]) present, compaction rebuilds the
    * current generation WHOLESALE — every manifest shard is read,
    * tombstoned records are filtered out, and a complete
    * self-referencing replacement generation stages as a hidden
    * sibling and swaps in via the warehouse rename-aside protocol
    * (readers see the old generation until the one committing rename;
    * [[healGenSwaps]] heals the crash window on every read and every
    * sink batch). Only after the swap do the tombstones clear —
    * manifest first, so a crash between the two deletes leaves
    * already-applied tombstones whose masking anti-join is a no-op.
    * The rebuild subsumes plain compaction (the chain is length 1
    * after it). Same maintenance-window contract as compaction
    * itself: one maintainer, stream quiesced — a batch REPLAY racing
    * this swap could re-fold pre-delete rows from the predecessor
    * after the tombstones cleared. */
  private def applyStateDeletes(s: org.apache.spark.sql.SparkSession,
      statePath: String, fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, gen: org.apache.hadoop.fs.Path,
      m: Long, manifest: Map[Int, Long],
      failpoint: String => Unit): Int = {
    require(manifest.nonEmpty, s"state at $statePath holds no rows")
    val raw = s.read.parquet(manifest.toSeq.sortBy(_._1)
      .map { case (k, g) => s"$statePath/b$g/$ShardPrefix$k" }: _*)
    val key = registryKeyOf(raw.columns)
    val live = raw.join(graft.operators.EmbeddingOps.tombstones(s,
      statePath, key), Seq(key), "left_anti")
    val nSh = readParams(fs, root)
      .getOrElse("nShards", DefaultStateShards.toString).toInt
    val tmp = graft.operators.Warehouse.hiddenSibling(gen, ".apply-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // the same shard assignment the owning sink uses: the registry
    // key IS the shard key for every deletable (per-record) state
    live.withColumn("_shard", pmod(hash(col(key)), lit(nSh)))
      .repartition(col("_shard"))
      .write.partitionBy("_shard").mode("overwrite")
      .parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
    // shards emptied by the deletion produce no directory and leave
    // the manifest — exactly the never-touched-shard shape
    val produced = fs.listStatus(tmp).map(_.getPath.getName)
      .filter(_.startsWith(ShardPrefix))
      .map(_.drop(ShardPrefix.length).toInt).toSet
    // a delete-EVERYTHING sweep would commit an empty manifest,
    // leaving every subsequent read failing "state holds no rows" —
    // refuse before the swap (nothing has mutated; the staged sibling
    // is dropped, the tombstones stay committed and keep masking).
    // Full teardown is dropping the state path, not deleting all rows.
    if (produced.isEmpty) {
      fs.delete(tmp, true)
      throw new IllegalArgumentException(
        s"deletion removes EVERY record from the state at $statePath " +
          "— an all-deleted state has no readable generation; drop " +
          "the state path (and its stream checkpoint) instead")
    }
    writeShardManifest(fs, tmp, produced.map(_ -> m).toMap)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    failpoint("apply-staged")
    graft.operators.Warehouse.swapInto(fs, tmp, gen)
    failpoint("apply-swapped")
    fs.delete(new org.apache.hadoop.fs.Path(root, "_dels"), true)
    fs.delete(new org.apache.hadoop.fs.Path(root, "dels"), true)
    manifest.size
  }

  case class Ev(user_id: Long, ts: Timestamp, event_type: String,
      value: Double)
  /** startUs/lastUs are epoch MICROseconds: timestamps round-tripped
    * through epoch millis would silently truncate the micros the
    * batch twin keeps, and the two sessionizations must be
    * value-identical (SourcesStreamingSpec's parity tests). The `Us`
    * field names are deliberate: state written by the earlier
    * millisecond build carried fields named start/last, and the state
    * store's schema check turns a resume from such a checkpoint into
    * a loud incompatibility error instead of silently decoding millis
    * as micros. */
  case class SessionState(startUs: Long, lastUs: Long, n: Int,
      sum: Double)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)

  private def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  private def ofMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  /** Gap-based sessionization with event-time-timeout state — the
    * custom-state surface (§2.10): a session closes when no event
    * arrives within `gapMinutes` of the last one (decided by the
    * watermark, so state is bounded). Emits closed sessions only. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Ev],
            state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed the gap: close and emit the session
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, ofMicros(s.startUs),
              ofMicros(s.lastUs), s.n, s.sum))
          } else {
            var closed = List.empty[Session]
            var cur = state.getOption
            batch.toSeq.sortBy(e => toMicros(e.ts)).foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.lastUs <= gapUs =>
                  // a late event admitted by the watermark can precede
                  // the session start — extend BOTH boundaries so the
                  // emitted span matches the batch twin's min/max(ts)
                  cur = Some(SessionState(math.min(s.startUs, t),
                    math.max(s.lastUs, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= Session(userId, ofMicros(s.startUs),
                    ofMicros(s.lastUs), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout API is millisecond-granular: round UP so
              // the gap can never fire a sub-millisecond early
              state.setTimeoutTimestamp(
                Math.floorDiv(s.lastUs + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }
}
