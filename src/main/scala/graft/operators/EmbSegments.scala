package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A pinned read token of a persisted index (see
  * [[EmbeddingOps.indexSnapshot]]): the root epoch at capture plus
  * the committed data and tombstone segment sets. Segments are
  * immutable within an epoch, so serving these exact sets replays
  * the capture-time view bit-for-bit; a compaction/rebuild bumps the
  * epoch and pinned reads refuse. A training run records this token
  * next to its outputs for reproducible re-reads. */
case class IndexSnapshot(epoch: Long, dataGen: Int, dataSegs: Seq[Int],
    delsGen: Int, delSegs: Seq[Int])

/** The shared persisted-index segment protocol: generation
  * manifests, crash-atomic staged appends, tombstone segments, and
  * the generic compaction — the machinery every persisted index
  * family (IVF/PQ/IVF-PQ/SQ8/trunc tier, and the text indexes via
  * [[TextOps]]) builds on. Split from [[EmbeddingOps]] purely
  * mechanically. */
private[graft] trait EmbSegmentOps { this: EmbeddingOps.type =>

  // ---- persisted-index segment protocol --------------------------------
  // Both persisted indexes (IVF lists, PQ codes) store their data as
  // SEGMENT partition directories (`seg=N`) gated by a generation
  // manifest (`$path/_segs/gen-K`, one committed segment id per line,
  // newest K wins — the Streams fold-state manifest discipline applied
  // to index artifacts). Serving filters `seg IN (committed)` — a
  // STATIC partition filter, so an uncommitted or orphaned segment is
  // invisible at zero IO cost. This is what makes appends
  // crash-atomic: a kill before the segment rename leaves only a
  // hidden staging dir (partition discovery ignores dot-entries); a
  // kill after the rename but before the manifest commit leaves a
  // visible directory no manifest references — serving is unchanged
  // either way, and the next append deletes the leftovers and redoes
  // the batch. Single-writer per index root (the fold-state
  // contract); readers never block.

  private[operators] def fsFor(s: org.apache.spark.sql.SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** Newest committed generation and its segment ids; (-1, empty) when
    * no manifest exists (not an index root). */
  private[graft] def committedSegs(fs: org.apache.hadoop.fs.FileSystem,
      metaDir: org.apache.hadoop.fs.Path): (Int, Seq[Int]) = {
    if (!fs.exists(metaDir)) return (-1, Seq.empty)
    val gens = fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toInt)
    if (gens.isEmpty) return (-1, Seq.empty)
    val g = gens.max
    val in = fs.open(new org.apache.hadoop.fs.Path(metaDir, s"gen-$g"))
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    (g, content.split("\n").iterator.filter(_.nonEmpty)
      .map(_.toInt).toSeq)
  }

  /** Commit generation `gen` listing `segs`: write a hidden temp file,
    * then ONE no-overwrite rename — the committing instant is a
    * compare-and-swap on the generation number. `FileContext.rename`
    * with default `Options.Rename.NONE` (the Delta-log commit
    * discipline) refuses an existing destination, so when two writers
    * race to commit the same generation the LOSER aborts loudly
    * instead of silently clobbering the winner's manifest — which
    * would drop the winner's freshly committed segment from the
    * listing and hand it to the next unreferenced-dir sweep. The
    * in-flight pre-checks (tail compaction's `genNow == gen` re-read)
    * keep their friendly early message; this CAS is the authoritative
    * backstop for a commit landing AFTER the re-check. The guarantee
    * is as strong as the store's no-overwrite rename: atomic on HDFS,
    * check-then-rename (a metadata-op-sized window, down from the
    * whole rewrite) on the local filesystem.
    *
    * `overwrite = true` is for commits into hidden STAGING trees
    * only: the merge assembly resumes into an existing tmp and
    * legitimately re-writes its gen-0. Nothing serves from a staging
    * tree, so last-writer-wins is safe there and required for resume
    * idempotence. Live metaDirs must never pass it. */
  private[graft] def commitGen(fs: org.apache.hadoop.fs.FileSystem,
      metaDir: org.apache.hadoop.fs.Path, gen: Int,
      segs: Seq[Int], overwrite: Boolean = false): Unit = {
    fs.mkdirs(metaDir)
    // the staging name is UNIQUE PER WRITER (the bindRun claim
    // discipline): a shared `.gen-N.tmp` would let racer B overwrite
    // racer A's staged listing before A's rename, so the rename
    // winner could publish the LOSER's manifest — the CAS below only
    // decides who renames first, it cannot detect a clobbered tmp.
    // A crashed commit leaves its orphan tmp behind (a hidden
    // few-byte file; successful commits consume theirs) — deliberate:
    // cleaning other writers' tmps here would reintroduce the race.
    val tmp = new org.apache.hadoop.fs.Path(metaDir,
      s".gen-$gen.tmp-" + java.util.UUID.randomUUID())
    val out = fs.create(tmp, false)
    try out.write(segs.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(metaDir, s"gen-$gen")
    if (overwrite) {
      if (fs.exists(dest)) fs.delete(dest, true)
      require(fs.rename(tmp, dest),
        s"could not commit index manifest $dest")
    } else {
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(fs.getUri, fs.getConf)
      try fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest))
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          throw new IllegalStateException(
            s"concurrent writer detected: manifest generation $gen at " +
              s"$metaDir was committed by another writer between this " +
              "writer's manifest read and its commit — aborting so the " +
              "winner's manifest (and the segment it lists) survive. " +
              "Re-run against the new manifest.", e)
      }
    }
    // belt-and-braces for the metadata cache: every manifest commit
    // this session performs drops the root's cached entries (the
    // epoch key already covers cross-process swaps)
    IndexMetaCache.invalidate(
      Option(metaDir.getParent).map(_.toString).getOrElse(""))
  }

  /** Age-gated sweep of ORPHANED manifest-staging tmps: a crashed
    * [[commitGen]] leaves its unique `.gen-N.tmp-<uuid>` behind
    * (successful commits consume theirs, and commitGen itself must
    * never clean others' tmps — deleting a LIVE racer's staged
    * listing is exactly the clobber the unique names exist to
    * prevent). Those few-byte orphans otherwise accumulate forever,
    * so the FULL-compaction doors sweep them here — single-writer by
    * contract at that point, and still only past an age threshold: a
    * tmp younger than `ageMs` could be an in-flight commit from a
    * contract violation, and sweeping it would convert that
    * violation's loud CAS abort into the silent clobber. Stale tmps
    * (default: an hour) are crash debris by any reading — no commit
    * stages for an hour. Driver-side metadata only. */
  private[operators] def sweepOrphanTmps(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      ageMs: Long = 3600000L): Unit = {
    val cutoff = System.currentTimeMillis() - ageMs
    Seq("_segs", "_dels").foreach { m =>
      val dir = new org.apache.hadoop.fs.Path(root, m)
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(".gen-") && n.contains(".tmp-") &&
              st.getModificationTime < cutoff)
            fs.delete(st.getPath, false)
        }
    }
  }

  /** Append one staged segment to an index root: clear crashed
    * leftovers, write via `writeSeg` into a hidden staging dir, rename
    * it visible, commit the next manifest generation. `failpoint`
    * instruments the two crash windows for the recovery spec.
    * `stamp` (optional) writes provenance files into the STAGED dir —
    * they publish atomically with the segment rename, which is what
    * lets the streaming ingest sink make its replay check part of the
    * manifest commit instead of a second, non-atomic write (see
    * [[graft.streaming.Streams.indexIngestBatch]]). Underscore-named
    * files inside a segment directory are invisible to parquet
    * readers, so a stamp never changes what serving scans. */
  private[operators] def appendSegment(s: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String,
      writeSeg: String => Unit, failpoint: String => Unit,
      stamp: String => Unit = _ => ()): Unit = {
    val (fs, root) = fsFor(s, path)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — build the index first")
    val segId = segs.max + 1
    val dir = new org.apache.hadoop.fs.Path(root, dataDir)
    val staged =
      new org.apache.hadoop.fs.Path(dir, s".seg-$segId.stage")
    val dest = new org.apache.hadoop.fs.Path(dir, s"seg=$segId")
    // a crashed prior attempt leaves a staging dir or an uncommitted
    // visible segment — both are unreferenced, replaced wholesale
    if (fs.exists(staged)) fs.delete(staged, true)
    if (fs.exists(dest)) fs.delete(dest, true)
    writeSeg(staged.toString)
    stamp(staged.toString)
    failpoint("staged-written")
    require(fs.rename(staged, dest),
      s"could not publish index segment $dest (staged at $staged)")
    failpoint("segment-renamed")
    commitGen(fs, metaDir, gen + 1, segs :+ segId)
  }

  /** A bounded-by-construction index metadata table (the write-once
    * `params`, the quantizer tables `centroids`/`codebooks`) re-read
    * as a LOCAL relation, collected once per (base, epoch) through
    * [[IndexMetaCache]]. These tables are replaced only by
    * epoch-bumping full-tree swaps, so the cache key is exact; they
    * are broadcast-bounded by construction parameters, so collecting
    * them costs what broadcasting them already cost. The payoff is
    * job count at serving cadence: a broadcast of a local relation
    * builds DRIVER-SIDE — no scan job per serve per table — and the
    * first read's single collect job amortizes over every later
    * serve of the same index incarnation. */
  private[operators] def localizedMeta(s: org.apache.spark.sql.SparkSession,
      base: String, name: String): DataFrame = {
    val (fs, root) = fsFor(s, base)
    val (schema, rows) = IndexMetaCache.cached(
        base, epochOf(fs, root), s"tbl:$name") {
      val df = s.read.parquet(s"$base/$name")
      (df.schema, df.collect())
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Committed-segment filter for a serving scan — a literal IN over
    * the `seg` partition column (static partition pruning, like the
    * probed-cell filter). With `asOf`, the IN pins the SNAPSHOT's
    * data segments instead of the newest manifest (see
    * [[indexSnapshot]]) — same static pruning, frozen view. */
  private[operators] def segFilter(s: org.apache.spark.sql.SparkSession,
      path: String,
      asOf: Option[IndexSnapshot] = None): org.apache.spark.sql.Column =
    asOf match {
      case Some(snap) =>
        val (fs, root) = fsFor(s, path)
        requireSnapshotLive(fs, root, path, snap)
        col("seg").isin(snap.dataSegs.map(Int.box): _*)
      case None =>
        val (fs, root) = fsFor(s, path)
        val (gen, segs) =
          committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
        require(gen >= 0 && segs.nonEmpty,
          s"no index manifest at $path/_segs — not an index root")
        col("seg").isin(segs.map(Int.box): _*)
    }

  // ---- snapshot-pinned reads -------------------------------------------
  // Within one root "epoch", segments are IMMUTABLE: appends (data and
  // tombstone) only add new `seg=N` directories and commit a new
  // manifest generation — nothing committed is ever rewritten. The
  // only operations that rewrite committed bytes are the full-tree
  // swaps (a rebuild or a compaction), and every one of them bumps the
  // root's `_epoch` marker as part of the staged tree it publishes. A
  // snapshot token therefore pins (epoch, data segs, tombstone segs):
  // as long as the epoch still matches, serving those exact segment
  // sets is byte-for-byte the view at capture time — which is what a
  // training run needs to record for bit-identical re-reads while the
  // index keeps ingesting and deleting underneath it. After a
  // compaction/rebuild the pinned segments are GONE from the live
  // tree (the swap replaced it, and generation numbering restarts —
  // gen alone would be ambiguous, the classic ABA); within the
  // one-epoch retention grace the read resolves to the RETIRED copy
  // of its incarnation instead (see the retention note below), and
  // refuses loudly only when that too is gone — never silently
  // serving the wrong incarnation. The epoch check and path
  // resolution run at plan-construction time: a fail-fast, not a
  // lock — snapshot reads race a concurrent maintainer exactly like
  // unpinned serves do (the single-writer, readers-never-block
  // contract), and a swap landing mid-scan surfaces as the reader's
  // missing-file error; the RETRY resolves to the retired tree and
  // completes, so the race costs a retry, never a wrong answer.

  /** The root's swap epoch: bumped by every full-tree publish
    * (rebuild/compaction) and, in place, by [[snapshotInvalidate]]
    * (the forget sweep's pinned-view expiry — segments intact, tokens
    * refused); untouched by ordinary appends/deletes. 0 for roots
    * that predate the marker (their first swap writes 1). */
  private[graft] def epochOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Long =
    readLongMarker(fs, new org.apache.hadoop.fs.Path(root, "_epoch"))
      .getOrElse(0L)

  /** Read a small marker file as UTF-8, None when absent — the ONE
    * marker-read idiom (shared by the long-marker parse below, the
    * ingest-binding owner check, and the streaming claim verify). */
  private[graft] def readUtf8Marker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  private[graft] def readLongMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    readUtf8Marker(fs, p).map { content =>
      // a marker must parse exactly: an empty or partial file is a
      // crashed legacy in-place write (every current writer publishes
      // via stage+rename) — refuse with the repair, never NFE-brick.
      // ASCII digits only (Character.isDigit accepts Unicode digit
      // classes toLong then rejects) and <= 18 of them (past that
      // toLong overflows — same brick, different exception)
      val t = content.trim
      require(t.nonEmpty && t.length <= 18 &&
          t.forall(c => c >= '0' && c <= '9'),
        s"unreadable marker at $p ('$t') — a crashed " +
          "legacy in-place write; repair by writing the intended value")
      t.toLong
    }

  /** Publish a small marker file ATOMICALLY: write a hidden temp
    * sibling, rename it over the destination. On POSIX-backed
    * filesystems the rename replaces the destination atomically —
    * no reader ever sees an empty or truncated marker; on stores
    * whose rename refuses an existing destination, fall back to
    * delete+rename (a missing-marker window, healed by the marker's
    * own default, instead of a truncation window that bricks reads).
    * Every LIVE-root marker write (epoch bump, sweep stamp, retention
    * knob) routes through here; markers inside a STAGED tree may
    * write in place (nothing reads a hidden staging dir). */
  private[graft] def writeMarkerAtomic(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
      s".${dest.getName}.marker-tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dest)) {
      fs.delete(dest, false)
      require(fs.rename(tmp, dest),
        s"could not publish marker $dest (staged at $tmp)")
    }
  }

  /** Refuse maintenance while a bound streaming-ingest run has an
    * IN-FLIGHT batch: the sink stamps each segment it appends with
    * `_ingest-<queryId>.b<id>` (atomic with the manifest commit) and
    * advances `_ingest/hwm` after; a CURRENT-binding stamp past the
    * high-water mark on ANY committed segment means the stream
    * crashed between the two writes and its restart will resolve the
    * batch by finding the stamp. The scan covers every committed
    * segment, not just the newest — a direct operator append (the
    * doors are public and unguarded) landing after the crash pushes
    * the stamped segment down the listing, and a newest-only check
    * would let a compaction proceed, erase the buried stamp, and turn
    * the stream's restart into a silent duplicate append. A stamp
    * whose query id does NOT match the current `_ingest/run` binding
    * belongs to a dead binding (the documented clear-and-rebind
    * recovery): no stream will ever resolve it, it can never match a
    * live batch id (the resolve scan is namespaced the same way), so
    * it is inert — maintenance proceeds and the rewrite garbage-
    * collects it rather than blocking forever. Legacy un-namespaced
    * `_ingest-b<id>` stamps (pre-namespacing roots) stay
    * conservative: past-hwm blocks, the fail-safe direction. Cost
    * stays driver-side metadata: O(committed segments) directory
    * listings, bounded by the compaction policy. Loud refusal;
    * restarting the stream (or replaying its last batch) clears
    * it. */
  private[graft] def requireIngestResolved(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, path: String,
      canonicalDir: String): Unit = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_ingest"))) return
    val hwm = readLongMarker(fs,
      new org.apache.hadoop.fs.Path(root, "_ingest/hwm")).getOrElse(-1L)
    val owner: Option[String] = readUtf8Marker(fs,
      new org.apache.hadoop.fs.Path(root, "_ingest/run"))
    val (gen, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    if (gen < 0 || segs.isEmpty) return
    val namespaced = """_ingest-(.+)\.b(\d+)""".r
    val pending = for {
      seg <- segs
      segDir = new org.apache.hadoop.fs.Path(root,
        s"$canonicalDir/seg=$seg")
      if fs.exists(segDir)
      st <- fs.listStatus(segDir)
      name = st.getPath.getName
      b <- name match {
        case namespaced(qid, bs) =>
          // only the CURRENT binding's stamps can be in flight
          if (owner.contains(qid))
            scala.util.Try(bs.toLong).toOption
          else None
        case _ if name.startsWith("_ingest-b") =>
          scala.util.Try(name.stripPrefix("_ingest-b").toLong).toOption
        case _ => None
      }
      if b > hwm
    } yield (b, seg)
    pending.sorted.lastOption.foreach { case (b, seg) =>
      throw new IllegalStateException(
        s"index root $path has an in-flight streaming-ingest batch " +
          s"b$b: committed segment seg=$seg is stamped past the " +
          s"high-water mark " +
          (if (hwm < 0) "(none)" else s"b$hwm") +
          ". The bound ingest stream stopped between its segment " +
          "commit and its progress write; restart that stream (its " +
          "replay resolves the batch idempotently) before compacting " +
          "or merging this root.")
    }
  }

  /** Write `epochOf(root) + 1` as the `_epoch` marker of a STAGED
    * replacement tree — called by every builder/compactor immediately
    * before its [[Warehouse.swapInto]], so the bump and the new tree
    * publish together (the swap rename is the committing instant). */
  private[operators] def stampEpoch(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_epoch"), true)
    try out.write((epochOf(fs, root) + 1).toString.getBytes("UTF-8"))
    finally out.close()
  }

  // ---- snapshot retention grace ----------------------------------------
  // Every full-tree swap (rebuild/compaction) RETIRES the tree it
  // replaces instead of deleting it: one extra rename parks the old
  // incarnation at a hidden sibling named by its epoch, and at most
  // `retainEpochs` retired epochs are kept (default 1; each swap
  // prunes older ones — bounded (retainEpochs+1)x disk, never a
  // chain). A pinned read whose token no longer matches the live
  // epoch resolves to the retired tree ([[snapshotRoot]]) and serves
  // BYTE-IDENTICALLY — the tree moved wholesale, `_epoch`, manifests,
  // sidecars and all — which is what makes a durable token survive
  // the routine compactions of a long training run. Limits, stated
  // loudly: (a) only `retainEpochs` back — an older token refuses
  // with the standard message; the knob ([[setRetention]]) is capped
  // so disk stays bounded by declaration; (b) a read that is MID-SCAN
  // when the swap lands still dies on the moved files (the plan
  // resolved paths at construction) — the retry resolves to the
  // retired tree and completes ([[withSnapshotRetry]] machine-
  // enforces exactly that), so the race costs a retry, never a wrong
  // answer; (c) [[snapshotInvalidate]] (the forget sweep) prunes ALL
  // retired trees, and the FIRST swap after a sweep prunes instead of
  // retiring (the replaced tree still physically holds the forgotten
  // payload bytes, tombstone-masked) — a forgotten payload must not
  // survive at rest through the retention grace; the payload bytes
  // leave the disk at that first post-sweep compaction, retained
  // copies included. A token captured between a sweep and the next
  // compaction therefore does NOT get the grace — forgetting
  // outranks replay convenience, by design.

  private[operators] def retiredSibling(
      root: org.apache.hadoop.fs.Path, epoch: Long)
      : org.apache.hadoop.fs.Path =
    Warehouse.hiddenSibling(root, s".epoch-$epoch")

  /** Delete retired trees of `root`, keeping only the `keepNewest`
    * highest-epoch ones (0 = all go). Listing is over the parent
    * directory's hidden siblings with this root's retirement prefix —
    * O(siblings), driver-side. */
  private[operators] def pruneRetired(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, keepNewest: Int): Unit = {
    val prefix = s".${root.getName}.epoch-"
    val parent = root.getParent
    if (parent == null || !fs.exists(parent)) return
    val retired = fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap { p =>
        val suffix = p.getName.stripPrefix(prefix)
        if (suffix.nonEmpty && suffix.length <= 18 &&
            suffix.forall(c => c >= '0' && c <= '9'))
          Some((suffix.toLong, p))
        else Some((-1L, p)) // malformed retirement name: oldest-first out
      }
    retired.sortBy(-_._1).drop(keepNewest)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** How many retired epochs `root` keeps (the `_retain` marker;
    * default 1 when unset — the original one-epoch grace). The parsed
    * value must sit in [0, [[MaxRetainEpochs]]] — readLongMarker
    * accepts up to 18 digits, and an unchecked Long→Int truncation of
    * a corrupt/hand-edited marker could go NEGATIVE, which silently
    * disables retention (retireOld false AND pruneRetired keeps
    * everything it should delete) instead of refusing like every
    * other malformed marker. */
  private[graft] def retentionOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int = {
    val p = new org.apache.hadoop.fs.Path(root, "_retain")
    readLongMarker(fs, p).map { v =>
      require(v >= 0 && v <= MaxRetainEpochs,
        s"unreadable marker at $p ('$v') — retainEpochs must be in " +
          s"[0, $MaxRetainEpochs]; repair by writing the intended value")
      v.toInt
    }.getOrElse(1)
  }

  /** Maximum value [[setRetention]] accepts: disk is bounded by
    * (retainEpochs + 1) full index copies, and a retention depth this
    * API cannot state a bound for is a leak, not a knob. */
  val MaxRetainEpochs = 8

  /** Set how many retired epochs a root keeps after each full-tree
    * swap — the replay-guarantee window: a pinned token (or a run
    * manifest entry) survives exactly `n` compactions/rebuilds of its
    * index. 0 disables the grace (swaps delete the replaced tree; any
    * expired token refuses immediately), 1 is the default, and the
    * cap ([[MaxRetainEpochs]]) keeps disk bounded by declaration at
    * (n+1) full copies. The marker rides every future swap (it is
    * carried into the staged tree at publish), and a forget sweep
    * still prunes ALL retired epochs regardless of `n` — retention
    * never outranks forgetting. Single-maintainer window, like every
    * marker write. */
  def setRetention(s: org.apache.spark.sql.SparkSession, path: String,
      n: Int): Unit = {
    require(n >= 0 && n <= MaxRetainEpochs,
      s"retainEpochs must be in [0, $MaxRetainEpochs] (disk is " +
        s"bounded by (n+1) full index copies), got $n")
    val (fs, root) = fsFor(s, path)
    val (g, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(g >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    writeMarkerAtomic(fs, new org.apache.hadoop.fs.Path(root, "_retain"),
      n.toString)
  }

  /** The one way a staged replacement tree becomes the index: stamp
    * its epoch, carry the retention knob forward, prune retired trees
    * down to budget BEFORE the swap (so no crash window can ever
    * leave more than `retainEpochs` of them), publish the staged tree
    * over `root` ([[Warehouse.swapInto]]), and retire the replaced
    * tree — UNLESS this is the first swap after a forget sweep (the
    * `_swept` marker), in which case the replaced tree is deleted:
    * it still physically holds the forgotten payload bytes, and a
    * retained copy would keep them at rest past the compaction that
    * was supposed to remove them. Every rebuild and compaction routes
    * through here so the retention grace cannot drift between index
    * families.
    *
    * GENERATION FENCING (`fence`): a compaction is a read-modify-
    * write — it read the manifests at some generation, rewrote that
    * view, and its swap implicitly claims nothing changed since. The
    * single-maintainer window makes that claim by contract, but a
    * violation used to be SILENT last-writer-wins corruption: an
    * append or delete landing mid-compaction is simply absent from
    * the staged tree and vanishes at the swap. Compaction callers
    * pass the (manifest dir, generation) pairs they read; the publish
    * re-reads each LIVE generation immediately before any destructive
    * step and REFUSES loudly if one moved. A detection tripwire, not
    * a lock — a commit landing between this check and the rename can
    * still lose (stated TOCTOU, same class as the reader races) —
    * but every realistic overlap (maintenance stampede, cron double-
    * fire) now dies with the violation named instead of eating data.
    * Rebuilds pass no fence: a rebuild is declaratively "replace
    * everything" with no read generation to defend. */
  private[operators] def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      failpoint: String => Unit = _ => (),
      fence: Seq[(String, Int)] = Seq.empty): Unit = {
    def checkFence(): Unit = fence.foreach { case (metaName, expected) =>
      val (cur, _) =
        committedSegs(fs, new org.apache.hadoop.fs.Path(root, metaName))
      require(cur == expected,
        s"concurrent writer detected at $root: the $metaName manifest " +
          s"moved generation $expected -> $cur while this maintenance " +
          "was staging — publishing would silently drop the other " +
          "writer's commit (the staged tree rewrote the OLD view). " +
          "The single-maintainer window was violated; re-run the " +
          "maintenance.")
    }
    // twice: on entry (refuse before ANY destructive step — the
    // staging rewrite is the minutes-long window a violation lands
    // in) and again immediately before the swap (narrows the
    // remaining race to the rename itself)
    checkFence()
    val oldEpoch = epochOf(fs, root)
    val retain = retentionOf(fs, root)
    // the sweep stamp: set by snapshotInvalidate, consumed (not
    // carried into the staged tree) by this first post-sweep swap
    val sweptAt = readLongMarker(fs,
      new org.apache.hadoop.fs.Path(root, "_swept"))
    val retireOld = retain > 0 && !sweptAt.exists(oldEpoch <= _)
    stampEpoch(fs, root, tmp)
    // the retention knob survives the swap: the staged tree becomes
    // the root, so the marker must ride it (the `_swept` stamp must
    // NOT — the staged tree holds no forgotten payload)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_retain"))) {
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_retain"),
        true)
      try out.write(retain.toString.getBytes("UTF-8"))
      finally out.close()
    }
    // the streaming-ingest binding (run marker + high-water mark)
    // rides the swap too: a compaction between two runs of the same
    // ingest stream must not reset replay tracking — a reset would
    // make a restarted stream re-append every batch the checkpoint
    // still replays. Content responsibility stays with the operator
    // exactly as with `_retain`: a swap that DROPS previously-folded
    // documents (a rebuild from different data) should clear `_ingest`
    // explicitly along with the checkpoint.
    val ingest = new org.apache.hadoop.fs.Path(root, "_ingest")
    if (fs.exists(ingest) &&
        !fs.exists(new org.apache.hadoop.fs.Path(tmp, "_ingest")))
      org.apache.hadoop.fs.FileUtil.copy(fs, ingest, fs,
        new org.apache.hadoop.fs.Path(tmp, "_ingest"), false,
        fs.getConf)
    failpoint("staged-written")
    pruneRetired(fs, root, if (retireOld) retain - 1 else retain)
    failpoint("pruned")
    checkFence()
    Warehouse.swapInto(fs, tmp, root, failpoint,
      retireTo =
        if (retireOld) Some(retiredSibling(root, oldEpoch)) else None)
    // the swap bumped the epoch (new cache key); drop the old path
    // entries anyway so an in-session epoch-number reuse cannot bite
    IndexMetaCache.invalidate(root.toString)
  }

  /** Resolve the base path a pinned read serves from: the live root
    * while the token's epoch is current, the RETIRED tree when a
    * swap has replaced the root but its previous incarnation is still
    * retained (see the retention note above), and a loud refusal
    * otherwise. Unpinned reads pass through. Idempotent — resolving
    * an already-retired base returns it (its own `_epoch` matches),
    * so helpers may re-resolve freely. */
  private[operators] def snapshotRoot(s: org.apache.spark.sql.SparkSession,
      path: String, asOf: Option[IndexSnapshot]): String = asOf match {
    case None => path
    case Some(snap) =>
      val (fs, root) = fsFor(s, path)
      if (epochOf(fs, root) == snap.epoch) path
      else {
        // the retired tree must be a real index incarnation at the
        // token's epoch — the manifest check keeps a legacy epoch-0
        // token from resolving into a stray marker-less directory
        val ret = retiredSibling(root, snap.epoch)
        if (fs.exists(ret) && epochOf(fs, ret) == snap.epoch &&
            committedSegs(fs,
              new org.apache.hadoop.fs.Path(ret, "_segs"))._1 >= 0)
          ret.toString
        else {
          requireSnapshotLive(fs, root, path, snap) // the loud refusal
          path // unreachable
        }
      }
  }

  /** Machine-enforcement of the pinned-read race contract ("a swap
    * landing mid-scan costs a retry, never a wrong answer"): run
    * `attempt`, and if it dies on the MISSING-FILE error class — the
    * reader's symptom of a swap that landed between plan construction
    * and execution (the plan resolved concrete file paths; the swap
    * moved them) — run it once more. The re-built plan re-resolves
    * through [[snapshotRoot]]: to the retired tree while the grace
    * holds (the serve completes byte-identically), or to the loud
    * "snapshot expired" refusal — never a silent wrong answer.
    * `attempt` must be a thunk that RE-CONSTRUCTS the plan (e.g.
    * `() => nearDupServe(s, path, probe, asOf).collect()`): retrying
    * a DataFrame built outside the thunk would re-execute the same
    * already-resolved paths and die again. Errors outside the
    * missing-file class propagate untouched, as does a second
    * missing-file failure — two swaps landing inside one serve is a
    * maintenance stampede violating the single-maintainer contract,
    * not a race to absorb. */
  def withSnapshotRetry[T](attempt: () => T): T =
    try attempt()
    catch { case e: Throwable if isMissingFileError(e, 0) => attempt() }

  /** The missing-file error class, matched structurally down the
    * cause chain: a raw FileNotFoundException (the local/HDFS reader),
    * or a SparkThrowable condition for a vanished file/path
    * (FAILED_READ_FILE.FILE_NOT_EXIST from a mid-scan task,
    * PATH_NOT_FOUND from a re-list). Depth-capped — cause chains can
    * self-reference. */
  private def isMissingFileError(t: Throwable, depth: Int): Boolean =
    t != null && depth < 16 && (
      t.isInstanceOf[java.io.FileNotFoundException] ||
      (t match {
        case st: org.apache.spark.SparkThrowable =>
          Option(st.getCondition).exists(c =>
            c.contains("FILE_NOT_EXIST") || c.contains("PATH_NOT_FOUND"))
        case _ => false
      }) ||
      isMissingFileError(t.getCause, depth + 1))

  /** Invalidate every pinned view of an index root: bump its `_epoch`
    * marker IN PLACE, with no tree swap. All existing snapshot tokens
    * and run-manifest entries for this root refuse from now on
    * ("snapshot expired"), while the committed segments stay
    * untouched — live serving, appends, and deletes continue
    * unaffected, and a fresh [[indexSnapshot]] pins the current view.
    *
    * This is the forget-sweep's snapshot composition
    * ([[Forget.forgetDocs]] calls it after each IndexTarget's
    * tombstone append): a right-to-be-forgotten deletion must not be
    * replayable through a pre-sweep token, and tombstones alone do
    * not expire tokens (by design — routine maintenance deletes keep
    * training-run views intact). The bump is O(1) — one marker write
    * — where an epoch-bumping compaction would rewrite the whole
    * index per deletion-request batch. The forgotten PAYLOAD bytes
    * leave the disk at the next compaction: the sweep also stamps a
    * `_swept` marker, which makes that compaction's [[publishStaged]]
    * DELETE the replaced tree instead of retiring it — the masked
    * payload must not survive at rest in a retained copy either, so
    * after the first post-sweep compaction no copy of the bytes
    * remains anywhere (retained trees of earlier epochs were pruned
    * by the sweep itself). Same single-maintainer window as every
    * marker write; in-flight pinned scans that already passed their
    * epoch check race it exactly like they race a compaction
    * (documented fail-fast, not a lock). */
  def snapshotInvalidate(s: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val (fs, root) = fsFor(s, path)
    val (g, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(g >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    // retained trees are pinned views too — a forgotten payload must
    // not be servable through the retention grace either
    pruneRetired(fs, root, keepNewest = 0)
    val next = epochOf(fs, root) + 1
    // both markers publish via stage+rename — an in-place overwrite
    // of a live marker has a truncation window that bricks every
    // reader (epochOf) until manual repair. `_swept` writes FIRST:
    // a crash between the two writes then only over-deletes (the next
    // compaction sees a sweep stamp at the still-current epoch and
    // prunes instead of retiring — one lost grace window), where the
    // reverse order would expire tokens yet lose the sweep stamp, so
    // the next compaction RETIRES the tree still holding the
    // tombstone-masked forgotten payload — a retained copy of exactly
    // the bytes this sweep promised to remove at rest
    writeMarkerAtomic(fs, new org.apache.hadoop.fs.Path(root, "_swept"),
      next.toString)
    writeMarkerAtomic(fs, new org.apache.hadoop.fs.Path(root, "_epoch"),
      next.toString)
    next
  }

  /** Capture a consistent read token of a persisted index: the root
    * epoch plus the committed data and tombstone segment sets right
    * now. Serving with `asOf = Some(token)` replays exactly this view
    * — later appends and deletes are invisible — until a compaction
    * or rebuild swaps the tree, or a forget sweep invalidates the
    * root's pinned views ([[snapshotInvalidate]]); the token then
    * refuses with "snapshot expired". Applies to every
    * append+tombstone index family (IVF/PQ/IVF-PQ/SQ8/trunc tier,
    * MinHash, BM25); fold-state roots under graft.streaming.Streams
    * rewrite segments on delete and are NOT snapshot-safe. */
  def indexSnapshot(s: org.apache.spark.sql.SparkSession,
      path: String): IndexSnapshot = {
    val (fs, root) = fsFor(s, path)
    val (g, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(g >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    val (dg, dsegs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_dels"))
    IndexSnapshot(epochOf(fs, root), g, segs, dg, dsegs)
  }

  /** The fail-fast behind every pinned read: the root must still be
    * the incarnation the snapshot was captured from. */
  private[operators] def requireSnapshotLive(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, path: String,
      snap: IndexSnapshot): Unit = {
    val cur = epochOf(fs, root)
    require(cur == snap.epoch,
      s"snapshot expired: index at $path was compacted, rebuilt, or " +
        s"swept since capture (root epoch $cur, snapshot epoch " +
        s"${snap.epoch}) and no retained copy of that epoch remains " +
        "— pinned segments no longer exist; capture a new snapshot")
  }

  /** Persist a snapshot token as a one-line JSON file — what a
    * training run records NEXT TO ITS OUTPUTS so the exact corpus
    * view it read can be re-served later ([[snapshotRead]] +
    * `asOf`). The token is tiny (two int lists bounded by segment
    * counts) and self-contained; whether it is still serveable is
    * decided at read-use time by the epoch check, not here — a
    * compaction, rebuild, or forget sweep ([[snapshotInvalidate]])
    * anywhere between write and use expires the token. */
  private def tokenJson(snap: IndexSnapshot): String =
    s"""{"epoch":${snap.epoch},"dataGen":${snap.dataGen},""" +
      s""""dataSegs":[${snap.dataSegs.mkString(",")}],""" +
      s""""delsGen":${snap.delsGen},""" +
      s""""delSegs":[${snap.delSegs.mkString(",")}]}"""

  private val TokenRe = ("""\{"epoch":(-?\d+),"dataGen":(-?\d+),""" +
    """"dataSegs":\[([\d,]*)\],"delsGen":(-?\d+),""" +
    """"delSegs":\[([\d,]*)\]\}""").r

  private def parseToken(json: String, where: String): IndexSnapshot =
    json match {
      case TokenRe(ep, dg, ds, lg, ls) =>
        def ints(v: String): Seq[Int] =
          if (v.isEmpty) Seq.empty else v.split(',').toSeq.map(_.toInt)
        IndexSnapshot(ep.toLong, dg.toInt, ints(ds), lg.toInt, ints(ls))
      case _ => throw new IllegalArgumentException(
        s"malformed snapshot token at $where: $json")
    }

  def snapshotWrite(s: org.apache.spark.sql.SparkSession,
      tokenPath: String, snap: IndexSnapshot): Unit = {
    val (fs, p) = fsFor(s, tokenPath)
    val out = fs.create(p, true)
    try out.write(tokenJson(snap).getBytes("UTF-8"))
    finally out.close()
  }

  /** Re-load a [[snapshotWrite]] token. Strict single-format parse —
    * a token this small has no excuse for ambiguity; anything that
    * does not round-trip the writer's exact shape refuses loudly
    * rather than pinning a misread segment set. */
  def snapshotRead(s: org.apache.spark.sql.SparkSession,
      tokenPath: String): IndexSnapshot = {
    val (fs, p) = fsFor(s, tokenPath)
    require(fs.exists(p), s"no snapshot token at $tokenPath")
    val in = fs.open(p)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    parseToken(json, tokenPath)
  }

  /** Persist a RUN MANIFEST — the one artifact a training run stamps
    * next to its outputs to pin its WHOLE serving surface: a named
    * snapshot token per index it read (lexical, dense, near-dup, …),
    * so the exact multi-index view behind a model is re-serveable
    * (or auditable via [[indexDiff]]) from a single file. Format is
    * deliberately line-oriented and strict: a `graft-manifest v1`
    * header, then one `name<TAB>token-json` line per entry sorted by
    * name — deterministic bytes for byte-equality across re-stamps.
    * Whether each token is still serveable is decided at use time by
    * its own epoch check, exactly as for a bare token. An empty
    * manifest refuses at write: a run that read nothing has nothing
    * to pin, and an empty file is indistinguishable from a truncated
    * one.
    *
    * REPLAY-GUARANTEE WINDOW, stated as a contract: each entry
    * survives exactly `retainEpochs` (default 1, [[setRetention]])
    * full-tree swaps OF ITS OWN INDEX — the windows are per-arm and
    * expire INDEPENDENTLY, so a manifest-pinned multi-index replay
    * (e.g. a hybrid) dies as soon as ANY one arm compacts past its
    * window, with the loud refusal naming that arm's index path. A
    * forget sweep of any arm expires that entry immediately,
    * retention notwithstanding. Plan maintenance cadence against the
    * LONGEST-lived manifest: raise the hot arms' retention, or
    * re-stamp manifests after compaction windows. */
  def manifestWrite(s: org.apache.spark.sql.SparkSession,
      path: String, tokens: Map[String, IndexSnapshot]): Unit = {
    require(tokens.nonEmpty,
      "refusing to write an empty run manifest — a run that read " +
        "nothing has nothing to pin")
    tokens.keys.foreach(k => require(
      k.nonEmpty && !k.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"manifest entry name '$k' must be non-empty and free of " +
        "tabs/newlines (the line format's delimiters)"))
    val (fs, p) = fsFor(s, path)
    val body = "graft-manifest v1\n" + tokens.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t${tokenJson(v)}" }.mkString("\n")
    val out = fs.create(p, true)
    try out.write((body + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Re-load a [[manifestWrite]] artifact. Strict: wrong header,
    * malformed line, malformed token, or duplicate name refuses —
    * a manifest that cannot be parsed exactly must never silently
    * pin a partial surface. */
  def manifestRead(s: org.apache.spark.sql.SparkSession,
      path: String): Map[String, IndexSnapshot] = {
    val (fs, p) = fsFor(s, path)
    require(fs.exists(p), s"no run manifest at $path")
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    require(lines.headOption.contains("graft-manifest v1"),
      s"not a graft run manifest at $path: " +
        s"'${lines.headOption.getOrElse("")}'")
    val entries = lines.tail.map { ln =>
      ln.split("\t", -1) match {
        case Array(name, json) if name.nonEmpty =>
          name -> parseToken(json, s"$path entry '$name'")
        case _ => throw new IllegalArgumentException(
          s"malformed manifest line at $path: $ln")
      }
    }
    val dup = entries.groupBy(_._1).collect {
      case (k, vs) if vs.size > 1 => k
    }
    require(dup.isEmpty,
      s"duplicate manifest entries at $path: ${dup.mkString(", ")}")
    entries.toMap
  }

  /** What changed between two pinned views of the same index
    * incarnation — the training-data audit question ("which keys did
    * run B see that run A did not?"). Both tokens must still be live
    * (a swap in between destroys the shared segment space and the
    * comparison refuses) and `from` must precede `to` — segment sets
    * only grow within an epoch, so live tokens are totally ordered by
    * set inclusion. One row per changed key: `added` = keys visible
    * to `to` but not `from` (the DELTA data segments minus `to`'s
    * tombstones — a key appended and deleted between the captures was
    * visible to neither and is not reported), `removed` = keys
    * visible to `from` that the DELTA tombstones killed. IO: the
    * added leg reads only delta segments; the removed leg is the one
    * that touches pre-`from` segments, and it reads ONLY the key
    * column (column pruning keeps the audit O(keys), never
    * O(vector payload)) and only when the delta actually deleted
    * something. `dataDir`/`keyCol` name the family's data directory
    * and key, as in [[compactSegments]]. */
  def indexDiff(s: org.apache.spark.sql.SparkSession, path: String,
      dataDir: String, from: IndexSnapshot, to: IndexSnapshot,
      keyCol: String = "vec_id"): DataFrame = {
    // both tokens must come from ONE incarnation: segment arithmetic
    // is meaningless across a compaction/rebuild (numbering restarts)
    require(from.epoch == to.epoch,
      s"snapshots of $path span an epoch boundary (a compaction, " +
        s"rebuild, or forget sweep ran between the captures: epochs " +
        s"${from.epoch} vs ${to.epoch}) — segment arithmetic is not " +
        "comparable across incarnations")
    // resolution honors the retention grace: a diff of two tokens
    // whose shared epoch was just swapped away reads the retired tree
    val base = snapshotRoot(s, path, Some(from))
    require(from.dataSegs.toSet.subsetOf(to.dataSegs.toSet) &&
      from.delSegs.toSet.subsetOf(to.delSegs.toSet),
      s"snapshots of $path are not ordered: 'from' must precede 'to'")
    val dDelta = to.dataSegs.filterNot(from.dataSegs.toSet)
    val lDelta = to.delSegs.filterNot(from.delSegs.toSet)
    val data = s.read.parquet(s"$base/$dataDir")
    // distinct on BOTH legs' key sets: a family may store several
    // rows per key (PQ codes are one row per (key, sub)) and the
    // contract is one row per CHANGED KEY — the distinct shuffles
    // only delta keys, O(batch) never O(index)
    val addedKeys =
      if (dDelta.isEmpty) data.select(col(keyCol)).where(lit(false))
      else data.where(col("seg").isin(dDelta.map(Int.box): _*))
        .select(col(keyCol)).distinct()
    val added = addedKeys
      .join(tombstones(s, base, keyCol, Some(to)), Seq(keyCol),
        "left_anti")
      .select(col(keyCol), lit("added").as("change"))
    val removed =
      if (lDelta.isEmpty) added.where(lit(false))
      else {
        val fromView = data
          .where(col("seg").isin(from.dataSegs.map(Int.box): _*))
          .select(col(keyCol))
          .join(tombstones(s, base, keyCol, Some(from)), Seq(keyCol),
            "left_anti")
        s.read.parquet(s"$base/dels")
          .where(col("seg").isin(lDelta.map(Int.box): _*))
          .select(col(keyCol)).distinct()
          .join(fromView, Seq(keyCol), "left_semi")
          .select(col(keyCol), lit("removed").as("change"))
      }
    added.unionByName(removed)
  }

  /** Delete vectors from ANY persisted index ([[ivfIndexWrite]],
    * [[pqIndexWrite]], [[ivfpqIndexWrite]]) — the retraction half of
    * the index lifecycle (user deletions, retracted documents, the
    * faiss `remove_ids` contract): deletions land as TOMBSTONE
    * segments under `$path/dels/seg=N` gated by their own `_dels`
    * manifest — the exact append protocol, so a delete is
    * CRASH-ATOMIC and O(batch): no list/code segment is rewritten.
    * Serving anti-joins the committed tombstone set; compaction
    * ([[ivfIndexCompact]] family) applies tombstones physically and
    * clears them. Caller contract: a tombstoned vec_id must never be
    * re-appended (tombstones win over every data segment — the
    * re-add would be invisible); one maintainer at a time. */
  def indexDelete(s: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, failpoint: String => Unit = _ => (),
      keyCol: String = "vec_id"): Unit = {
    val (fs, root) = fsFor(s, path)
    val (g, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(g >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — build the index first")
    tombstoneAppend(s, root, ids, keyCol, failpoint)
  }

  /** The tombstone-segment append behind [[indexDelete]] and the fold
    * states' graft.streaming.Streams.stateDelete: deletions land as
    * key segments under `$root/dels/seg=N` gated by their own `_dels`
    * manifest — the exact data-append protocol, so a delete is
    * CRASH-ATOMIC and O(batch) regardless of what the root stores. */
  private[graft] def tombstoneAppend(s: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path, ids: DataFrame, keyCol: String,
      failpoint: String => Unit = _ => ()): Unit = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_dels")
    val (dg, dsegs) = committedSegs(fs, metaDir)
    val segId = if (dsegs.isEmpty) 0 else dsegs.max + 1
    val dir = new org.apache.hadoop.fs.Path(root, "dels")
    val staged = new org.apache.hadoop.fs.Path(dir, s".seg-$segId.stage")
    val dest = new org.apache.hadoop.fs.Path(dir, s"seg=$segId")
    if (fs.exists(staged)) fs.delete(staged, true)
    if (fs.exists(dest)) fs.delete(dest, true)
    ids.select(col(keyCol)).distinct()
      .write.mode("overwrite").parquet(staged.toString)
    failpoint("staged-written")
    require(fs.rename(staged, dest),
      s"could not publish tombstone segment $dest")
    failpoint("segment-renamed")
    commitGen(fs, metaDir, math.max(dg, -1) + 1, dsegs :+ segId)
  }

  /** The committed tombstone set of an index — (vec_id), empty when
    * the index has no `_dels` manifest. Unbounded by construction
    * (deletion mass grows with corpus churn), so callers ANTI-JOIN
    * it, never collect it. With `asOf`, only the SNAPSHOT's tombstone
    * segments are read — deletions after capture are invisible to the
    * pinned view. */
  def tombstones(s: org.apache.spark.sql.SparkSession,
      path: String, keyCol: String = "vec_id",
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    val (fs, root) = fsFor(s, base)
    val (dg, dsegs) = asOf match {
      case Some(snap) =>
        requireSnapshotLive(fs, root, base, snap)
        (snap.delsGen, snap.delSegs)
      case None =>
        committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_dels"))
    }
    if (dg < 0 || dsegs.isEmpty)
      s.range(0).select(col("id").as(keyCol))
    else
      s.read.parquet(s"$base/dels")
        .where(col("seg").isin(dsegs.map(Int.box): _*))
        .select(col(keyCol))
  }

  private[operators] def compactSegments(
      s: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String, metaNames: Seq[String],
      writer: DataFrame => org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row],
      keyCol: String = "vec_id",
      failpoint: String => Unit = _ => (),
      extraSeg: String => Unit = _ => (),
      readSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous swap
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    // a compaction would erase the replay stamp an in-flight ingest
    // batch left on the newest segment — refuse until the bound
    // stream resolves it (see requireIngestResolved)
    requireIngestResolved(fs, root, path, dataDir)
    // the full door is single-writer by contract: the one safe place
    // to garbage-collect crashed commits' staging tmps (age-gated —
    // see sweepOrphanTmps). Runs before the no-op return so a
    // steady-state root gets the hygiene too.
    sweepOrphanTmps(fs, root)
    val (dg, dsegs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_dels"))
    val hasDels = dg >= 0 && dsegs.nonEmpty
    // no-op only when there is nothing to consolidate AND no
    // tombstones to apply — a single-segment index with deletions
    // still compacts (that is how tombstones become physical)
    if (segs.size <= 1 && !hasDels) 0
    else {
      val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // the quantizer table(s) carry over verbatim (byte-identical
      // serving); the data rows re-land as one segment
      metaNames.foreach { metaName =>
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(root, metaName), fs,
          new org.apache.hadoop.fs.Path(tmp, metaName), false, false,
          s.sparkContext.hadoopConfiguration)
      }
      // basePath keeps sibling seg roots one logical table (per-root
      // partition discovery would see conflicting structures); the
      // discovered seg column is layout, not data — dropped before
      // the rewrite. Tombstoned rows drop PHYSICALLY here, and the
      // staged tree carries no dels/_dels — compaction clears them.
      // Families that legalize ZERO-ROW segments (the banded media
      // indexes: an all-undecodable append batch writes no parquet
      // files) pass `readSchema` — schema INFERENCE over a committed
      // set that is all empty throws 'unable to infer schema' where
      // the correct answer is the empty frame.
      val reader0 = s.read.option("basePath", s"$path/$dataDir")
      val rows = readSchema.fold(reader0)(reader0.schema)
        .parquet(segs.sorted.map(k => s"$path/$dataDir/seg=$k"): _*)
        .drop("seg")
        .join(tombstones(s, path, keyCol), Seq(keyCol), "left_anti")
      writer(rows).parquet(s"$tmp/$dataDir/seg=0")
      // index-kind-specific sidecars (e.g. the minhash per-bucket stat
      // sidecar) regenerate from the compacted rows INSIDE the staged
      // segment, so the swap publishes data + sidecar together
      extraSeg(s"$tmp/$dataDir/seg=0")
      commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0,
        Seq(0))
      // expires pinned snapshots, but retains the replaced tree (the
      // retention note above: `retainEpochs` back, default 1, UNLESS
      // this is the first compaction after a forget sweep): tokens of
      // the pre-compaction view keep serving from the retired copy.
      // Fenced on BOTH manifests at the generations read above: an
      // append (data) or delete (tombstone) landing mid-compaction
      // would otherwise vanish at the swap — the staged tree rewrote
      // the old view and carries no dels at all
      publishStaged(fs, root, tmp, failpoint,
        fence = Seq("_segs" -> gen, "_dels" -> dg))
      segs.size
    }
  }

  /** SIZE-TIERED tail compaction — the LSM merge-policy half of
    * maintenance that [[compactSegments]] (a full-corpus rewrite)
    * cannot provide at scale: continuous ingestion accumulates many
    * SMALL segments (each serve's IO carries a per-segment term —
    * file opens, sidecar merges, per-seg pruning), and rewriting the
    * whole corpus to fold them away is O(corpus) every time. This
    * door bounds the segment count at `maxSegments` by merging only
    * the SMALLEST `n - maxSegments + 1` segments into one — IO is
    * O(tail bytes), the big old segments never rewrite. The classic
    * trade, explicit here:
    *
    *  - `_dels` is NOT cleared (untouched segments still need
    *    masking); the merged segment applies tombstones physically
    *    for ITS rows only. A delete landing mid-compaction stays
    *    correct WITHOUT fencing — its tombstones remain committed
    *    and keep masking at serve time (only the full compaction,
    *    which clears `_dels`, must fence against concurrent deletes).
    *  - Consumed segment directories are NOT deleted in the same
    *    call: all referenced-or-consumed dirs stay on disk, so
    *    pre-compaction pinned snapshots keep serving byte-identically
    *    (their seg IN-list still resolves) without any tree swap.
    *    The NEXT tail compaction sweeps them — after bumping `_epoch`
    *    (atomic marker) so outstanding tokens refuse LOUDLY instead
    *    of silently reading a vanished segment. One tail-compaction
    *    cycle of replay grace, mirroring `retainEpochs` = 1.
    *  - A data append racing the manifest commit refuses at the
    *    commit (generation re-check) — the single-maintainer window,
    *    narrowed to the commit instant like the swap fence.
    *
    * Crash windows: before the merged rename — a hidden staging dir,
    * replaced wholesale on retry; before the gen commit — an
    * unreferenced visible dir, deleted by the retry (same id);
    * between the sweep's epoch bump and its deletes — over-expiry
    * only (tokens refuse early; dirs go on the retry). Returns the
    * number of segments merged (0 = already within bound). */
  private[operators] def tailCompactSegments(
      s: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String,
      writer: DataFrame => org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row],
      keyCol: String = "vec_id",
      maxSegments: Int = 4,
      failpoint: String => Unit = _ => (),
      extraSeg: String => Unit = _ => (),
      readSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    require(maxSegments >= 1,
      s"maxSegments must be >= 1, got $maxSegments")
    val (fs, root) = fsFor(s, path)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    requireIngestResolved(fs, root, path, dataDir)
    // a forget sweep owes AT-REST deletion that only the full
    // rewrite's swap pays (`_swept` is consumed there): merging here
    // would park the tombstone-masked forgotten payload in consumed
    // dirs for an extra cycle, and the sweep-phase epoch bump would
    // push past the `_swept` stamp so the eventual full compaction
    // RETIRES (instead of deletes) the tree — refuse, like the merge
    requireNotSwept(fs, root, path)
    val dir = new org.apache.hadoop.fs.Path(root, dataDir)
    sweepUnreferencedSegs(fs, root, Seq(dir), segs.toSet, failpoint)
    if (segs.size <= maxSegments) return 0
    val tail = segs
      .map(n => n -> fs.getContentSummary(
        new org.apache.hadoop.fs.Path(dir, s"seg=$n")).getLength)
      .sortBy { case (n, bytes) => (bytes, n) }
      .take(segs.size - maxSegments + 1).map(_._1)
    val survivors = segs.filterNot(tail.toSet)
    val segId = segs.max + 1
    val staged =
      new org.apache.hadoop.fs.Path(dir, s".seg-$segId.stage")
    val dest = new org.apache.hadoop.fs.Path(dir, s"seg=$segId")
    if (fs.exists(staged)) fs.delete(staged, true)
    if (fs.exists(dest)) fs.delete(dest, true)
    val reader0 = s.read.option("basePath", s"$path/$dataDir")
    val rows = readSchema.fold(reader0)(reader0.schema)
      .parquet(tail.sorted.map(k => s"$path/$dataDir/seg=$k"): _*)
      .drop("seg")
      .join(tombstones(s, path, keyCol), Seq(keyCol), "left_anti")
    writer(rows).parquet(staged.toString)
    extraSeg(staged.toString)
    failpoint("tail-staged")
    require(fs.rename(staged, dest),
      s"could not publish merged tail segment $dest")
    failpoint("tail-renamed")
    // the commit refuses if ANY writer moved the data manifest while
    // the tail was rewriting — committing would resurrect their
    // appended segment's id or drop it from the listing. The re-read
    // gives the friendly early refusal; a commit landing AFTER it is
    // caught by commitGen's no-overwrite CAS (the losing committer
    // aborts instead of clobbering the racer's manifest)
    val (genNow, _) = committedSegs(fs, metaDir)
    require(genNow == gen,
      s"concurrent writer detected at $path: the _segs manifest " +
        s"moved generation $gen -> $genNow during tail compaction — " +
        "the single-maintainer window was violated; re-run.")
    commitGen(fs, metaDir, gen + 1, (survivors :+ segId).sorted)
    tail.size
  }

  /** The maintenance POLICY the two compaction doors imply, made
    * executable: a pending forget sweep owes at-rest deletion that
    * only the full rewrite pays (`_swept` is consumed by its swap),
    * so it always wins; otherwise a segment count over `maxSegments`
    * takes the O(tail) door; otherwise nothing runs. The decision
    * reads only driver-side metadata (two manifests, one marker).
    * Tombstone volume is deliberately NOT a trigger here — deletions
    * stay correct indefinitely through the serve-time anti-join, and
    * judging their physical-rewrite worth needs data-dependent
    * numbers the caller owns. Returns what ran: `none`, `tail:N`, or
    * `full:N` (N = segments merged/rewritten). */
  private[graft] def maintainIndexWith(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int)
      (tail: => Int)(full: => Int): String = {
    require(maxSegments >= 1,
      s"maxSegments must be >= 1, got $maxSegments")
    val (fs, root) = fsFor(s, path)
    val (gen, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_swept")))
      s"full:$full"
    else if (segs.size > maxSegments) s"tail:$tail"
    else "none"
  }

  /** The tail doors' swept-root refusal ([[tailCompactSegments]]'s
    * inline rationale): forgetting outranks segment-count hygiene. */
  private[operators] def requireNotSwept(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, path: String): Unit =
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_swept")),
      s"index root $path has a pending forget sweep: tail compaction " +
        "would keep the forgotten payload on disk in consumed " +
        "segment dirs and desynchronize the sweep epoch — run the " +
        "FULL compaction first (its swap deletes the replaced tree, " +
        "paying the owed at-rest deletion)")

  /** Observability for the maintenance loop: one row per COMMITTED
    * segment with its on-disk footprint, plus the root-level facts
    * the policy door reads — all driver-side filesystem metadata,
    * zero Spark jobs beyond the local-relation construction. Columns:
    * (seg, bytes, files, is_newest, n_del_segs, swept, ingest_bound,
    * ingest_hwm). `dataDir` is the family's data directory ("docs"
    * MinHash, "postings" BM25, "bands" banded media, "lists" IVF,
    * "codes" PQ/SQ8/IVF-PQ). The scheduling companion of
    * [[maintainIndexWith]]: a dashboard reads this, the policy door
    * acts. */
  def indexHealth(s: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String): DataFrame = {
    val (fs, root) = fsFor(s, path)
    val (gen, segs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    val (dg, dsegs) =
      committedSegs(fs, new org.apache.hadoop.fs.Path(root, "_dels"))
    val nDels = if (dg >= 0) dsegs.size else 0
    val swept = fs.exists(new org.apache.hadoop.fs.Path(root, "_swept"))
    val bound = fs.exists(
      new org.apache.hadoop.fs.Path(root, "_ingest/run"))
    val hwm = readLongMarker(fs,
      new org.apache.hadoop.fs.Path(root, "_ingest/hwm")).getOrElse(-1L)
    val newest = segs.max
    val rows = segs.sorted.map { n =>
      val cs = fs.getContentSummary(new org.apache.hadoop.fs.Path(root,
        s"$dataDir/seg=$n"))
      org.apache.spark.sql.Row(n, cs.getLength, cs.getFileCount,
        n == newest, nDels, swept, bound, hwm)
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("seg", IntegerType),
        StructField("bytes", LongType),
        StructField("files", LongType),
        StructField("is_newest", BooleanType),
        StructField("n_del_segs", IntegerType),
        StructField("swept", BooleanType),
        StructField("ingest_bound", BooleanType),
        StructField("ingest_hwm", LongType))))
  }

  /** The deferred half of [[tailCompactSegments]]: visible `seg=N`
    * dirs the newest manifest no longer references are prior tails'
    * consumed inputs, kept one cycle so pinned tokens could replay.
    * Deleting them invalidates any still-outstanding token, so the
    * `_epoch` bump publishes FIRST (atomic): tokens refuse loudly,
    * never read a half-vanished view. */
  private[operators] def sweepUnreferencedSegs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      dirs: Seq[org.apache.hadoop.fs.Path], live: Set[Int],
      failpoint: String => Unit): Unit = {
    val unreferenced = dirs.filter(fs.exists).flatMap(dir =>
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("seg="))
        .filter(p => scala.util.Try(
          p.getName.stripPrefix("seg=").toInt).toOption
          .exists(!live.contains(_))))
    if (unreferenced.isEmpty) return
    writeMarkerAtomic(fs, new org.apache.hadoop.fs.Path(root, "_epoch"),
      (epochOf(fs, root) + 1).toString)
    IndexMetaCache.invalidate(root.toString)
    failpoint("sweep-epoch-bumped")
    unreferenced.foreach(p => fs.delete(p, true))
  }

  /** Merge N independently-built index roots into ONE serving root —
    * the scale-out build pattern's missing half. A 100 TB corpus
    * builds its index SHARD-PARALLEL: each corpus partition builds
    * its own root in its own job, with no writer contention and no
    * single-maintainer window to serialize through; this door then
    * stitches the shard roots into one root with ZERO data rewrite
    * and ZERO shuffle. It can be pure manifest surgery because
    * bucket layout is content-keyed (`pmod(hash(key), nBuckets)`):
    * identical family params mean identical directory shape, so a
    * source segment — data files, partition dirs, stat sidecars and
    * all — is ALREADY a valid segment of the merged index; it only
    * needs a new id. Per segment the cost is ONE rename; the whole
    * merge is O(segments) driver-side metadata, never O(rows).
    *
    * CONSUMES its sources. The claim step renames each source root
    * WHOLESALE into the staging tree — one atomic rename per source —
    * which is what keeps the crash story clean: a source is always
    * either fully live or fully claimed, never half-robbed (renaming
    * individual segments out of a live root would strand a source
    * whose manifest references missing directories). The phases:
    *
    *  1. VALIDATE, against the sources wherever they live (manifest
    *     present, family params equal via `validate`, no pending
    *     `_swept` sweep — see below), refusing before anything moves;
    *  2. CLAIM: prune each source's retired trees (they would be
    *     orphaned), then rename the root to `tmp/src-i`;
    *  3. ASSEMBLE: rename each claimed data and tombstone segment to
    *     its renumbered id under the staging tree — offsets are
    *     deterministic in source order, every rename idempotent
    *     (destination already present == already moved); write-once
    *     family metadata (`metaNames`) COPIES from the first source;
    *  4. commit the merged `_dels` then `_segs` manifests — the
    *     `_segs` commit is the assembly's linearization point;
    *  5. drop the source husks, stamp `_epoch`, publish by the
    *     standard swap ([[Warehouse.swapInto]]).
    *
    * RESUMABLE: killed anywhere before the publish, re-running with
    * the SAME sources in the SAME order completes — a resume that
    * finds the merged `_segs` manifest skips straight to phase 5;
    * one that does not re-claims whatever is still live (husk
    * manifests survive until after phase 4, so offsets recompute
    * identically). A crash AFTER the publish leaves nothing to
    * resume: dest is live, the sources are consumed, and the re-run
    * refuses loudly at validation.
    *
    * Contracts carried from the append protocol: key domains across
    * sources are DISJOINT (the shard-build pattern guarantees it; a
    * duplicated key would serve twice). Tombstones ride the same
    * renumbering — with disjoint domains each masks exactly the rows
    * it masked at its source. NOT carried: source snapshot tokens,
    * retired trees, and retention knobs die with their root (the
    * merged root is a NEW incarnation — epoch 1, default retention).
    * A source with a PENDING forget sweep (`_swept` stamped, no
    * compaction yet) REFUSES: that tree still physically holds
    * forgotten payload whose at-rest deletion is owed to its next
    * compaction, and the stamp does not survive the merge — compact
    * the source first, then merge. */
  private[operators] def mergeRoots(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String, dataDirs: Seq[String],
      metaNames: Seq[String],
      validate: Seq[String] => Unit = _ => (),
      failpoint: String => Unit = _ => ()): Unit = {
    require(sources.nonEmpty, "mergeRoots needs at least one source")
    require(sources.distinct.size == sources.size,
      s"duplicate source paths in $sources")
    require(!sources.contains(dest),
      s"merge destination $dest is also a source")
    val (fs, destRoot) = fsFor(s, dest)
    Warehouse.recoverSwap(fs, destRoot) // heal a crashed previous publish
    require(!fs.exists(destRoot),
      s"merge destination $dest already exists — a merge never " +
        "replaces a root. If a previous merge already published here " +
        "it completed (nothing to resume); otherwise pick a new path.")
    val tmp = Warehouse.hiddenSibling(destRoot, ".merge-tmp")
    val husks = sources.indices
      .map(i => new org.apache.hadoop.fs.Path(tmp, s"src-$i"))
    // the resume-identity record lives BESIDE the staging tree (its
    // own hidden sibling), not inside it: it must survive the
    // husk-drop step so a crash between husk cleanup and the swap
    // still resumes, and it must never ride the swap into the root
    val sourcesMarker =
      Warehouse.hiddenSibling(destRoot, ".merge-sources")
    val allLive = sources.forall(src =>
      fs.exists(new org.apache.hadoop.fs.Path(src)))
    // a FRESH run (every source still live — nothing claimed yet)
    // wipes any staging residue wholesale: an ABANDONED merge at this
    // destination may have left husks — or even a fully-assembled
    // tree — of a DIFFERENT source list, and both the resume
    // detection and the final swap would otherwise trust it
    if (allLive && fs.exists(tmp)) fs.delete(tmp, true)
    // a RESUME (some source consumed) must be the SAME merge: the
    // staging tree records its source list before the first claim,
    // and a mismatch refuses loudly instead of publishing another
    // merge's assembly or mis-numbering this one's segments
    if (!allLive) {
      val stored =
        if (!fs.exists(sourcesMarker)) ""
        else {
          val in = fs.open(sourcesMarker)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
      require(stored == sources.mkString("\n"),
        s"staging residue at $tmp does not belong to this merge " +
          s"(its recorded source list differs) — it is an abandoned " +
          "merge's; delete the staging tree and rebuild the missing " +
          "shard indexes, or re-run the abandoned merge with ITS " +
          "source list")
    }
    // the resume flag: the merged manifest commits only after every
    // segment has moved, so its presence means assembly is complete
    val assembled = committedSegs(fs,
      new org.apache.hadoop.fs.Path(tmp, "_segs"))._1 >= 0
    if (!assembled) {
      // resolve each source to wherever it lives — its own path on a
      // fresh run, the claimed husk on a resume — and validate BEFORE
      // any claim, so a refusal leaves every live source untouched
      val resolved = sources.zip(husks).map { case (src, husk) =>
        val live = new org.apache.hadoop.fs.Path(src)
        if (fs.exists(live)) live
        else {
          require(fs.exists(husk),
            s"source $src is neither live nor claimed at $husk — " +
              "if a previous merge already published the destination " +
              "this merge is complete; otherwise the source list is " +
              "wrong (a resume must pass the same sources in the " +
              "same order)")
          husk
        }
      }
      resolved.foreach { base =>
        val (g, segs) = committedSegs(fs,
          new org.apache.hadoop.fs.Path(base, "_segs"))
        require(g >= 0 && segs.nonEmpty,
          s"no index manifest at $base/_segs — not an index root")
        require(!fs.exists(new org.apache.hadoop.fs.Path(base, "_swept")),
          s"source $base has a pending forget sweep: its tree still " +
            "holds forgotten payload whose at-rest deletion is owed " +
            "to its next compaction, and the sweep stamp does not " +
            "survive a merge — compact the source first")
        // a source with an in-flight ingest batch merges its stamp
        // into a dest the stream is not bound to — the restarted
        // stream could then re-append the batch into the (gone)
        // source path or silently lose it; refuse until resolved.
        // Note the merged DEST carries no `_ingest` binding: the
        // sources' streams end with the claim, by contract.
        requireIngestResolved(fs, base, base.toString, dataDirs.head)
      }
      validate(resolved.map(_.toString))
      failpoint("validated")
      // CLAIM: retired siblings would be orphaned by the rename (they
      // live beside the source, named by its root), so they prune
      // first — merging expires every source snapshot by design
      fs.mkdirs(tmp)
      // the resume-identity record, (re-)written BEFORE the first
      // claim — on a resume the content is identical (the mismatch
      // refusal above already passed)
      val out = fs.create(sourcesMarker, true)
      try out.write(sources.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      sources.zip(husks).foreach { case (src, husk) =>
        val live = new org.apache.hadoop.fs.Path(src)
        if (fs.exists(live)) {
          pruneRetired(fs, live, 0)
          require(fs.rename(live, husk),
            s"could not claim source $live into $husk")
          IndexMetaCache.invalidate(src)
        }
        failpoint("claimed")
      }
      // ASSEMBLE: renumber every claimed segment under the staging
      // tree. Offsets are deterministic in source order (source i's
      // ids shift by the sum of earlier sources' max+1), so a resume
      // recomputes the identical mapping from the husk manifests.
      def renumber(metaName: String, dirs: Seq[String]): Seq[Int] = {
        var offset = 0
        val out = Seq.newBuilder[Int]
        husks.foreach { husk =>
          val (_, segs) = committedSegs(fs,
            new org.apache.hadoop.fs.Path(husk, metaName))
          segs.foreach { k =>
            val nk = offset + k
            out += nk
            dirs.foreach { dd =>
              val from =
                new org.apache.hadoop.fs.Path(husk, s"$dd/seg=$k")
              val to =
                new org.apache.hadoop.fs.Path(tmp, s"$dd/seg=$nk")
              if (fs.exists(from)) {
                fs.mkdirs(to.getParent)
                require(fs.rename(from, to),
                  s"could not move segment $from to $to")
              } else require(fs.exists(to),
                s"segment $from is neither at its husk nor at $to — " +
                  s"the staging tree is damaged; delete $tmp and " +
                  "rebuild the shard indexes")
            }
          }
          if (segs.nonEmpty) offset += segs.max + 1
        }
        out.result()
      }
      val newSegs = renumber("_segs", dataDirs)
      val newDels = renumber("_dels", Seq("dels"))
      failpoint("moved")
      // write-once family metadata carries from the FIRST source —
      // COPIED, not moved (tiny by the IndexMetaCache contract), so a
      // resume's validation still finds it at the husk
      metaNames.foreach { mn =>
        val from = new org.apache.hadoop.fs.Path(husks.head, mn)
        val to = new org.apache.hadoop.fs.Path(tmp, mn)
        require(fs.exists(from),
          s"source ${sources.head} has no $mn sidecar")
        if (fs.exists(to)) fs.delete(to, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false,
          false, s.sparkContext.hadoopConfiguration)
      }
      // dels first: the _segs commit is the resume flag and must be
      // the LAST assembly write. Both are staging-tree commits that a
      // resumed assembly legitimately re-writes — overwrite, not CAS
      if (newDels.nonEmpty)
        commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_dels"), 0,
          newDels, overwrite = true)
      commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0,
        newSegs, overwrite = true)
      failpoint("manifest-committed")
    }
    // drop EVERY src-* husk by listing (not just the current source
    // list's indices — belt and braces under the identity check
    // above): the swap publishes the whole staging tree, and no
    // scaffolding may ride into the new root
    if (fs.exists(tmp))
      fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("src-"))
        .foreach(p => fs.delete(p, true))
    failpoint("husks-dropped")
    // dest is absent, so the stamp is epoch 1 — a fresh incarnation
    stampEpoch(fs, destRoot, tmp)
    Warehouse.swapInto(fs, tmp, destRoot, failpoint)
    // the identity record is scaffolding of a merge that no longer
    // exists; best-effort (an orphan is benign — the next merge to
    // this destination starts fresh and overwrites it)
    fs.delete(sourcesMarker, false)
    IndexMetaCache.invalidate(dest)
  }

  /** The shared merge validator for trained-quantizer families
    * (IVF centroids, PQ codebooks, SQ8 ranges): every source's
    * tables must be CONTENT-identical to the first's, or their codes
    * encode against different codewords and the merged serving would
    * be meaningless. The tables are bounded by construction
    * parameters (nCentroids rows, M*kc codewords, dim range rows),
    * so the check is a tiny collect per source — merge-time only,
    * never serving. Quantizer-identical shards come from the
    * family's `*IndexWriteWith` door over one trainer root. */
  private[operators] def requireEqualMetaTables(
      s: org.apache.spark.sql.SparkSession,
      bases: Seq[String], metaNames: Seq[String]): Unit =
    metaNames.foreach { mn =>
      val ref = s.read.parquet(s"${bases.head}/$mn")
        .collect().map(_.toString).sorted
      bases.tail.foreach { b =>
        val other = s.read.parquet(s"$b/$mn")
          .collect().map(_.toString).sorted
        require(ref.sameElements(other),
          s"quantizer table $mn differs between ${bases.head} and " +
            s"$b — their codes encode against different codewords " +
            "and cannot serve from one root; build shards with the " +
            "family's *IndexWriteWith door from a single trainer root")
      }
    }

  /** The shared merge validator for bucket-moduli families: every
    * source's write-once `params/n_buckets` must agree, or their
    * directory layouts are not unionable (the same term or band
    * value would live in DIFFERENT buckets on different shards, and
    * the serve's static bucket pruning would silently miss rows). */
  private[operators] def requireSameBucketModuli(
      s: org.apache.spark.sql.SparkSession,
      bases: Seq[String]): Unit = {
    val ns = bases
      .map(b => s.read.parquet(s"$b/params").head.getAs[Int]("n_buckets"))
    require(ns.distinct.size == 1,
      s"bucket moduli differ across merge sources: " +
        bases.zip(ns).map { case (b, n) => s"$b=$n" }.mkString(", ") +
        " — shard builds must share nBuckets for their layouts to " +
        "union; rebuild the odd shards with the common modulus")
  }
}
