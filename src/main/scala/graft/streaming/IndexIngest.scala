package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}

import graft.operators.{EmbeddingOps, Multimodal, TextOps}

/** Streaming ingestion into the persisted serving indexes — the
  * "canonical incremental path" the additive-fold docs point at
  * (each micro-batch lands as one O(batch) immutable index segment),
  * here made EXACTLY-ONCE under foreachBatch's at-least-once replay.
  *
  * The append doors themselves are deliberately not replay-guarded
  * ("compose with an upstream dedup gate"); this sink is that gate
  * for the batch-identity dimension: a REPLAYED micro-batch must not
  * append a second copy of its segment. Content identity (the same
  * doc arriving in two different batches) stays with the fold
  * registries ([[Streams.dedupExactSink]] et al.), exactly as the
  * reference pipeline separates its watermark sync point from its
  * upsert keys (`load_to_dw.py`'s staged MERGE; see SURVEY.md §2.9).
  *
  * Replay protocol, per micro-batch `b` against index root `R`:
  *
  *  1. BIND: `R/_ingest/run` must carry this stream's checkpoint
  *     query id (claimed atomically on first contact; any other id
  *     refuses — an index root accepts segments from ONE ingest
  *     stream, the single-writer contract made loud).
  *  2. FAST SKIP: `b <= R/_ingest/hwm` means the batch fully
  *     committed (segment AND progress) — no-op.
  *  3. CRASH-WINDOW RESOLVE: the append stamps
  *     `_ingest-<queryId>.b<b>` into the STAGED segment dir, so the
  *     stamp publishes atomically with the manifest commit (the
  *     segment protocol's one linearization point). If any committed
  *     segment carries this batch's stamp, the previous attempt died
  *     between its manifest commit and its progress write — advance
  *     `hwm` and stop. No second segment, ever. The stamp carries the
  *     RUN BINDING's query id, not just the batch number: stamps are
  *     never deleted once resolved, and batch ids restart at 0 under
  *     a fresh checkpoint, so an un-namespaced stamp left anywhere in
  *     the chain by a DEAD binding (after the documented "clear
  *     _ingest" recovery) would make the new stream silently skip its
  *     first appends while still advancing hwm — silent data loss. A
  *     namespaced stamp can only ever match its own binding; a dead
  *     binding's stamps are inert and the next compaction erases
  *     them.
  *  4. APPEND + ADVANCE: otherwise append (stamped), then publish
  *     `hwm = b` via the atomic marker write.
  *
  * Scale shape: steps 1–3 are O(1) driver-side filesystem metadata
  * (two marker reads, one directory list of the newest segment — no
  * Spark job); step 4 is the family append's documented O(batch)
  * cost. State on the root is two small files plus one hidden stamp
  * file per segment; nothing grows with corpus size.
  *
  * Maintenance interop: the binding and high-water mark ride
  * full-tree swaps (see [[graft.operators.EmbeddingOps
  * .publishStaged]]'s `_ingest` carry), so compacting between two
  * runs of the same stream is transparent. Compaction and merge
  * REFUSE while a crash-window batch is unresolved
  * ([[graft.operators.EmbeddingOps.requireIngestResolved]]) — the
  * segment rewrite would erase the stamp step 3 depends on. */
private[graft] trait IndexIngestSinks { this: Streams.type =>

  /** Exactly-once streaming appends into a persisted MinHash near-dup
    * index root (built by `TextOps.minhashIndexWrite`): each
    * micro-batch lands as one `docs` segment with its `_bstats`
    * sidecar, serving picks it up at the manifest commit.
    *
    * `maintainEvery` > 0 runs the family's standing maintenance
    * policy (`minhashIndexMaintain` — forget sweep -> full rewrite,
    * over `maxSegments` -> tail merge) inside the sink after every
    * N-th committed batch. The sink is the root's single writer, so
    * maintenance serializes with ingestion by construction — no
    * fencing race, no separate maintenance window to operate. It is
    * opportunistic hygiene: a crash between a batch's commit and its
    * maintenance turn just defers to the next turn. */
  def minhashIngestSink(docs: DataFrame, indexRoot: String,
      checkpointLocation: String, maintainEvery: Int = 0,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    indexIngestSinkOf(docs, indexRoot, checkpointLocation, "docs",
      maintainEvery, () => TextOps.minhashIndexMaintain(
        docs.sparkSession, indexRoot, maxSegments))(
      (b, stamp) => TextOps.minhashIndexAppend(b, indexRoot,
        stamp = stamp))

  /** Exactly-once streaming appends into a persisted BM25 index root
    * (built by `TextOps.bm25IndexWrite`; the stored layout — bucket
    * modulus, positional flag — applies to every streamed segment).
    * `maintainEvery`/`maxSegments` as on [[minhashIngestSink]]. */
  def bm25IngestSink(docs: DataFrame, indexRoot: String,
      checkpointLocation: String, maintainEvery: Int = 0,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    indexIngestSinkOf(docs, indexRoot, checkpointLocation, "postings",
      maintainEvery, () => TextOps.bm25IndexMaintain(
        docs.sparkSession, indexRoot, maxSegments))(
      (b, stamp) => TextOps.bm25IndexAppend(b, indexRoot,
        stamp = stamp))

  /** Exactly-once streaming appends into a persisted perceptual-hash
    * image index root (built by `Multimodal.phashIndexWrite`).
    * `maintainEvery`/`maxSegments` as on [[minhashIngestSink]]. */
  def phashIngestSink(media: DataFrame, indexRoot: String,
      checkpointLocation: String, maintainEvery: Int = 0,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    indexIngestSinkOf(media, indexRoot, checkpointLocation, "bands",
      maintainEvery, () => Multimodal.bandedIndexMaintain(
        media.sparkSession, indexRoot, maxSegments))(
      (b, stamp) => Multimodal.phashIndexAppend(b, indexRoot,
        stamp = stamp))

  /** Exactly-once streaming appends into a persisted IVF vector index
    * root (built by `EmbeddingOps.ivfIndexWrite`; batches assign
    * against the stored centroids — the fixed-quantizer `add`).
    * `maintainEvery`/`maxSegments` as on [[minhashIngestSink]]. */
  def ivfIngestSink(emb: DataFrame, indexRoot: String,
      checkpointLocation: String, maintainEvery: Int = 0,
      maxSegments: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    indexIngestSinkOf(emb, indexRoot, checkpointLocation, "lists",
      maintainEvery, () => EmbeddingOps.ivfIndexMaintain(
        emb.sparkSession, indexRoot, maxSegments))(
      (b, stamp) => EmbeddingOps.ivfIndexAppend(b, indexRoot,
        stamp = stamp))

  private def indexIngestSinkOf(rows: DataFrame, indexRoot: String,
      checkpointLocation: String, canonicalDir: String,
      maintainEvery: Int, maintain: () => String)
      (append: (DataFrame, String => Unit) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(maintainEvery >= 0,
      s"maintainEvery must be >= 0 (0 = off), got $maintainEvery")
    rows.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexIngestBatch(batch.toDF(), batchId, indexRoot,
          checkpointQueryId(
            batch.sparkSession.sparkContext.hadoopConfiguration,
            checkpointLocation),
          canonicalDir)(append)
        // opportunistic standing maintenance, serialized with the
        // appends by the sink's single-writer position. Runs AFTER
        // the batch's commit; a crash here costs nothing (the batch
        // replays as a no-op and the next turn maintains). Replayed
        // batches reaching their turn again are also fine: the
        // policy door no-ops on an in-bound, unswept root.
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
          maintain(); ()
        }
      }
  }

  /** Streaming DELETIONS into any persisted index root — the forget
    * pipeline's event-driven half (takedown/GDPR keys arrive as a
    * stream, not a batch job). Works against EVERY family: tombstones
    * are family-agnostic key segments under the root's `_dels`
    * manifest, applied by the serve-time anti-join.
    *
    * The replay story is DELIBERATELY simpler than the data sink's:
    * masking is idempotent (a duplicate or already-applied key masks
    * nothing new), so correctness needs no in-segment stamp — the
    * high-water mark exists only to stop replay BLOAT, and a crash
    * between the tombstone commit and the progress write costs at
    * most one duplicate tombstone segment, consolidated away by the
    * next compaction. The binding (`_ingest/dels_run`) is separate
    * from the data-ingest binding: a root legally runs ONE ingest
    * stream and ONE delete stream — they commit to different
    * manifests (`_segs` vs `_dels`), the one manifest race that
    * matters (a compaction racing either) already fences on both.
    * No in-sink maintenance here: exactly one writer (the ingest
    * sink's turn, or the operator) may compact. */
  def indexDeleteSink(ids: DataFrame, indexRoot: String,
      checkpointLocation: String, keyCol: String = "doc_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    ids.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexDeleteBatch(batch.toDF(), batchId, indexRoot,
          checkpointQueryId(
            batch.sparkSession.sparkContext.hadoopConfiguration,
            checkpointLocation),
          keyCol)
      }

  /** One micro-batch of the delete protocol (exposed for the
    * recovery spec, like [[indexIngestBatch]]). */
  private[graft] def indexDeleteBatch(batch: DataFrame, batchId: Long,
      indexRoot: String, queryId: String, keyCol: String,
      failpoint: String => Unit = _ => ()): Unit = {
    val s = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))._1 >= 0,
      s"no index manifest at $indexRoot/_segs — build the index " +
        "first (the delete sink tombstones an existing root)")
    bindIngest(fs, root, indexRoot, queryId,
      runName = "dels_run", hwmName = "dels_hwm")
    val hwmPath =
      new org.apache.hadoop.fs.Path(root, "_ingest/dels_hwm")
    val hwm = EmbeddingOps.readLongMarker(fs, hwmPath).getOrElse(-1L)
    if (batchId <= hwm) return // replayed AND fully committed
    if (!batch.isEmpty)
      EmbeddingOps.indexDelete(s, indexRoot, batch, keyCol = keyCol)
    failpoint("deleted")
    EmbeddingOps.writeMarkerAtomic(fs, hwmPath, batchId.toString)
  }

  /** One micro-batch of the ingest protocol (the foreachBatch body,
    * exposed so the recovery spec can drive explicit batch ids
    * through every crash window). `failpoint` fires `"appended"`
    * between the segment commit and the progress write — THE window
    * the stamp protocol exists for. */
  private[graft] def indexIngestBatch(batch: DataFrame, batchId: Long,
      indexRoot: String, queryId: String, canonicalDir: String,
      failpoint: String => Unit = _ => ())
      (append: (DataFrame, String => Unit) => Unit): Unit = {
    val s = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (gen, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $indexRoot/_segs — build the index " +
        "first (the ingest sink appends to an existing root)")
    // a FRESH binding refuses a root still carrying LEGACY
    // un-namespaced stamps: the resolve honors them (it must — the
    // in-place-upgrade crash window), but they cannot prove WHICH
    // binding wrote them, so a new stream restarting batch ids at 0
    // would silently skip any batch id matching lingering debris —
    // the ADVICE-medium silent loss, re-reachable through the
    // documented clear-and-rebind recovery. The compact-first
    // ordering the docs prescribe is enforced mechanically here:
    // refuse BEFORE claiming, name the heal. An EXISTING binding
    // never runs this (verify path) — its legacy stamps are its own.
    bindIngest(fs, root, indexRoot, queryId, onClaim = () => {
      val legacy = for {
        n <- segs
        segDir = new org.apache.hadoop.fs.Path(root,
          s"$canonicalDir/seg=$n")
        if fs.exists(segDir)
        st <- fs.listStatus(segDir)
        name = st.getPath.getName
        if name.startsWith("_ingest-b") &&
          scala.util.Try(name.stripPrefix("_ingest-b").toLong).isSuccess
      } yield s"seg=$n/$name"
      require(legacy.isEmpty,
        s"index root $indexRoot carries legacy un-namespaced replay " +
          s"stamps (${legacy.take(3).mkString(", ")}" +
          s"${if (legacy.size > 3) ", ..." else ""}) — a new ingest " +
          "binding restarts batch ids at 0, and a lingering stamp " +
          "matching one of them would make this stream silently skip " +
          "its append. Run the family's FULL compaction first (the " +
          "rewrite retires the stamps), then start the stream.")
    })
    val hwmPath = new org.apache.hadoop.fs.Path(root, "_ingest/hwm")
    val hwm = EmbeddingOps.readLongMarker(fs, hwmPath).getOrElse(-1L)
    if (batchId <= hwm) return // replayed AND fully committed
    // crash-window resolve: the previous attempt's append committed
    // (the stamp published with the manifest) but its progress write
    // did not land — finishing IS the progress write. The scan covers
    // ALL committed segments, not just the newest: a direct operator
    // append (the doors are public and unguarded) landing after the
    // crash pushes the stamped segment down the listing, and a
    // newest-only check would miss it and re-append the batch —
    // silent duplicates. O(committed segments) driver-side exists
    // checks, bounded by the compaction policy.
    val stampName = s"_ingest-$queryId.b$batchId"
    // the resolve honors LEGACY un-namespaced stamps too
    // (pre-namespacing roots mid-crash-window at upgrade time): a
    // legacy stamp for this batch id means the batch's segment
    // committed — skipping prevents the silent DUPLICATE, the
    // protocol's unforgivable failure. The maintenance guard blocks
    // compaction while any legacy stamp sits past hwm, so the two
    // doors tell one story: legacy stamps are honored until a
    // compaction retires them. (Corollary, documented: clear-and-
    // rebind on a root still carrying legacy stamps should compact
    // first — a legacy stamp cannot prove WHICH binding wrote it.)
    val stamped = segs.exists(n =>
      fs.exists(new org.apache.hadoop.fs.Path(root,
        s"$canonicalDir/seg=$n/$stampName")) ||
      fs.exists(new org.apache.hadoop.fs.Path(root,
        s"$canonicalDir/seg=$n/_ingest-b$batchId")))
    if (!stamped) {
      // an EMPTY replayed batch appends nothing, so it leaves no
      // stamp; advancing hwm alone is its whole commit. (Appending a
      // zero-row segment would also poison families whose compaction
      // infers schema from data files.)
      if (!batch.isEmpty)
        append(batch, staged => {
          val out = fs.create(new org.apache.hadoop.fs.Path(staged,
            stampName), true)
          out.close()
        })
      failpoint("appended")
    }
    EmbeddingOps.writeMarkerAtomic(fs, hwmPath, batchId.toString)
  }

  /** Bind an index root to its ONE ingest stream: verify the existing
    * `_ingest/run` marker, or claim an unbound root with a
    * CREATE-EXCLUSIVE marker write — the create is the atomic claim
    * instant. A tmp+rename claim is NOT one: on stores whose rename
    * overwrites, claimant A can create, rename, and pass its
    * read-back before claimant B's overwriting rename lands — two
    * streams both believing they own the root for one batch. With
    * create-exclusive exactly one claimant creates; the loser falls
    * through to verify() against the winner's marker and refuses. A
    * crash between create and close leaves an empty marker, which
    * verify() then refuses LOUDLY for every stream until `_ingest` is
    * cleared — fail-safe (no writer), never two writers. The claim is
    * as atomic as the store's exclusive create (atomic on HDFS and
    * object stores with preconditions; check-then-create on the local
    * filesystem — a metadata-op window, and re-verified every batch
    * since bindIngest runs per micro-batch). `onClaim` runs BEFORE
    * the create, on the fresh-claim path only (an existing binding
    * skips it): the append sink's legacy-stamp guard — refusal there
    * leaves the root unclaimed. */
  private def bindIngest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, indexRoot: String,
      queryId: String, runName: String = "run",
      hwmName: String = "hwm", onClaim: () => Unit = () => ()): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, "_ingest")
    val marker = new org.apache.hadoop.fs.Path(dir, runName)
    def verify(): Unit = {
      val owner = readUtf8(fs, marker)
      require(owner == queryId,
        s"index root $indexRoot is bound to ingest stream '$owner', " +
          s"not '$queryId'. The checkpoint was recreated or another " +
          "stream targets this root; an index accepts segments from " +
          "ONE ingest stream. Resume with the original checkpoint, " +
          "or clear _ingest after verifying no replay is pending.")
    }
    if (fs.exists(marker)) { verify(); return }
    require(!fs.exists(new org.apache.hadoop.fs.Path(dir, hwmName)),
      s"index root $indexRoot has ingest progress but no run marker " +
        "— an earlier stream's binding was partially cleared. " +
        "Restore or clear the whole _ingest directory.")
    onClaim()
    fs.mkdirs(dir)
    val out =
      try fs.create(marker, false)
      catch {
        // lost the claim race — the winner's marker decides
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => null
        // some FileSystem implementations signal an existing
        // destination with a plain IOException instead (object-store
        // connectors, older local-FS paths): re-check, and when the
        // marker exists fall through to verify()'s clear
        // bound-to-another-stream refusal rather than crashing the
        // losing claimant's query with the opaque create error.
        // A genuine IO failure (marker still absent) rethrows.
        case e: java.io.IOException =>
          if (fs.exists(marker)) null else throw e
      }
    if (out != null)
      try out.write(queryId.getBytes("UTF-8"))
      finally out.close()
    verify()
  }
}
