package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse layout (SURVEY.md §4 "partition pruning"): the fact table
  * is written partitioned by date so every date-range predicate (P5 —
  * the dominant filter shape in the reference's dashboard queries)
  * prunes partitions at the file listing, before any IO.
  *
  * At 100 TB this is the single highest-leverage layout decision:
  * dashboards ask for "last N days" over years of history, and a
  * date-partitioned fact turns that into reading N partitions instead
  * of scanning everything. Within a partition, parquet min/max column
  * statistics prune row groups for the remaining predicates.
  */
object Warehouse {

  /** Write the fact partitioned by date_key (the yyyymmdd surrogate —
    * one directory per calendar day, prunable by P5 predicates). */
  def writeFact(fact: DataFrame, path: String): Unit =
    fact.write
      .partitionBy("date_key")
      .mode("overwrite")
      .parquet(path)

  /** Read a table maintained by [[publishAudited]]/[[compact]],
    * healing the swap crash window FIRST: if the last publisher died
    * between its two renames, the table sits complete at `<path>.prev`
    * and a plain read of `path` sees ENOENT until the NEXT publish
    * runs recovery. Readers that come through here self-heal instead
    * of waiting for a writer. (The heal is one rename guarded by two
    * existence checks — no data movement; a concurrently-completing
    * publisher makes the `!exists(path)` guard false, so this never
    * races a healthy swap.) */
  def readPublished(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    recoverSwap(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    spark.read.parquet(path)
  }

  /** Last-N-days slice of a partitioned fact. The day keys are
    * enumerated with real calendar arithmetic (integer date_key
    * subtraction silently skips days across month boundaries:
    * 20240201 - 2 = 20240199 excludes Jan 30-31) and pushed as an IN
    * filter on the partition column — still a partition filter, so the
    * listing prunes before IO. */
  def lastDays(fact: DataFrame, end: java.time.LocalDate,
      days: Int): DataFrame = {
    val keys = (0 until days).map { i =>
      val d = end.minusDays(i.toLong)
      d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
    }
    fact.where(col("date_key").isin(keys: _*))
  }

  /** Small-files compaction — the maintenance pass every long-running
    * ingest needs: streaming micro-batches and incremental loads leave
    * thousands of tiny files whose per-file open/footer cost dominates
    * scans at scale. Rewrites a FLAT parquet directory into
    * ceil(totalBytes / targetBytes) files and swaps it in, with a
    * row-count check between write and swap so a bad rewrite can never
    * replace good data. Returns the new file count.
    *
    * The swap is [[swapInto]]'s rename-aside protocol: a complete
    * readable copy exists at every instant (either `path` itself, or
    * `<path>.prev` alongside the verified rewrite at
    * `<path>.compact-tmp`), and a crashed previous swap is recovered
    * automatically on entry. Partitioned layouts
    * compact per-partition — this operator refuses subdirectories
    * rather than silently flattening them. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p)
    require(fs.exists(p), s"no directory to compact at $path")
    val entries = fs.listStatus(p).toSeq
    require(entries.forall(!_.isDirectory),
      s"$path has subdirectories (a partitioned layout?) — compact " +
        "each partition directory instead.")
    val dataBytes = entries
      .filter(e => e.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
    val n = math.max(1L, (dataBytes + targetBytes - 1) / targetBytes).toInt
    val before = spark.read.parquet(path)
    val rows = before.count()
    val tmp = hiddenSibling(p, ".compact-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    before.repartition(n).write.mode("overwrite").parquet(tmp.toString)
    val got = spark.read.parquet(tmp.toString).count()
    require(got == rows,
      s"compaction rewrite of $path lost rows ($got != $rows); " +
        s"original left untouched, rewrite at $tmp")
    swapInto(fs, tmp, p)
    n
  }

  /** [[compact]] for a PARTITIONED layout: walk the partition tree
    * (directories named `col=value`, any nesting depth) and compact
    * each LEAF partition directory independently with the same
    * verified rewrite + rename-aside swap. The walk is driver-side
    * metadata work — one iteration per partition (per day, for the
    * date-partitioned fact), while every rewrite is a distributed
    * job — and each partition swaps atomically on its own, so a
    * failure mid-run leaves every completed partition published and
    * every untouched partition intact (resume by re-running; already
    * compacted partitions rewrite to the same file count).
    *
    * Returns (partition-relative path -> new file count). Files are
    * compacted within their partition only: cross-partition merging
    * would have to rewrite partition VALUES into the rows and break
    * the pruning layout that motivates partitioning in the first
    * place. */
  def compactPartitions(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootPath), s"no table at $root")
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      // heal crashed leaf swaps FIRST: a `.N.prev` aside whose visible
      // N is missing is a swap that died between its two renames, and
      // the stranded leaf would otherwise be invisible to the walk
      fs.listStatus(p).foreach { c =>
        val n = c.getPath.getName
        if (c.isDirectory && n.startsWith(".") && n.endsWith(".prev"))
          recoverSwap(fs, new org.apache.hadoop.fs.Path(p,
            n.stripPrefix(".").stripSuffix(".prev")))
      }
      val children = fs.listStatus(p).toSeq
      // hidden entries are NOT partitions: a crashed leaf swap leaves
      // `.col=value.prev` / `.col=value.compact-tmp` siblings whose
      // names contain '=' — walking into one would compact the stale
      // aside copy as if it were data (the leaf's own compact() heals
      // it via recoverSwap instead)
      val partDirs = children.filter { c =>
        val n = c.getPath.getName
        c.isDirectory && n.contains("=") &&
          !n.startsWith(".") && !n.startsWith("_")
      }
      if (partDirs.isEmpty) Seq(p) // leaf: data files live here
      else partDirs.flatMap(c => walk(c.getPath))
    }
    // listStatus returns QUALIFIED paths (scheme-prefixed); qualify
    // the root the same way so the relative key strips cleanly
    val qualifiedRoot = fs.makeQualified(rootPath)
    val leaves = walk(qualifiedRoot).filterNot(_ == qualifiedRoot)
    require(leaves.nonEmpty,
      s"$root has no partition directories — use compact() for a " +
        "flat layout.")
    leaves.map { leaf =>
      val rel = leaf.toString.stripPrefix(qualifiedRoot.toString)
        .stripPrefix("/")
      rel -> compact(spark, leaf.toString, targetBytes)
    }.toMap
  }

  /** Crash-safe publish swap: move the live directory ASIDE before
    * moving the staged one in, so a complete readable copy exists at
    * every instant — before the aside-rename readers see the old
    * `path`; between the two renames the old data is at
    * `<path>.prev` and the new audited data at the staging dir; after
    * the final rename readers see the new `path`. (Plain
    * delete-then-rename has a window where a crash leaves NO readable
    * table.) A stale `.prev` from an earlier crash is dropped first —
    * at that point the staging dir already holds newer audited data,
    * so a full copy still exists throughout. `failpoint` is a test
    * hook for simulating a crash between the renames.
    *
    * Between the two renames `path` itself is briefly absent, and a
    * crash there strands the table at `.prev` until recovery runs —
    * which is why reads go through [[readPublished]] (self-healing)
    * rather than a bare `spark.read.parquet`. */
  /** Staging/aside directories are DOT-PREFIXED siblings
    * (`.<name>.prev`, `.<name>.publish-tmp`, `.<name>.compact-tmp`):
    * Spark's file listing and partition discovery ignore hidden
    * entries, so mid-swap state is invisible to readers — essential
    * when the swapped directory is a partition LEAF inside a live
    * table root ([[compactPartitions]]), where a visible
    * `date_key=...prev` sibling would parse as a garbage partition
    * value. */
  private[graft] def hiddenSibling(p: org.apache.hadoop.fs.Path,
      suffix: String): org.apache.hadoop.fs.Path = {
    require(p.getParent != null, s"$p has no parent to stage in")
    new org.apache.hadoop.fs.Path(p.getParent, "." + p.getName + suffix)
  }

  private[graft] def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, p: org.apache.hadoop.fs.Path,
      failpoint: String => Unit = _ => (),
      retireTo: Option[org.apache.hadoop.fs.Path] = None): Unit = {
    val prev = hiddenSibling(p, ".prev")
    if (fs.exists(prev)) fs.delete(prev, true)
    if (fs.exists(p))
      require(fs.rename(p, prev),
        s"could not move $p aside to $prev; staged data left at $tmp")
    failpoint("aside-renamed")
    require(fs.rename(tmp, p),
      s"staged data is at $tmp (previous copy at $prev) but the " +
        s"rename to $p failed — rename it manually.")
    failpoint("published")
    // with retireTo, the replaced tree is RETAINED (renamed aside, one
    // more cheap rename) instead of deleted — the snapshot retention
    // grace ([[EmbeddingOps.snapshotRoot]]): pinned reads of the
    // previous epoch keep working until the retired tree is pruned.
    // Best-effort by design: a crash after the publish rename leaves
    // `.prev` behind, which the NEXT swap's entry sweep deletes — the
    // correctness path is always the loud snapshot refusal, never this
    // retention.
    if (fs.exists(prev)) retireTo match {
      case Some(dest) =>
        if (fs.exists(dest)) fs.delete(dest, true)
        fs.rename(prev, dest)
        ()
      case None =>
        fs.delete(prev, true)
        ()
    }
  }

  /** Heal the crash window of a PREVIOUS [[swapInto]] on entry: if
    * `path` is missing but the aside copy exists, the last run died
    * between the two renames — restore `<path>.prev` to `path` so
    * readers (and this run's own failure paths) always see a table.
    * Without this, a recovery publish whose AUDIT fails would delete
    * its staging copy and leave `path` absent indefinitely even
    * though the old data sat untouched at `.prev`. */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val prev = hiddenSibling(p, ".prev")
    if (!fs.exists(p) && fs.exists(prev))
      require(fs.rename(prev, p),
        s"found a crashed swap (no table at $p, previous copy at " +
          s"$prev) but could not restore it — rename it manually.")
  }

  /** Write-audit-publish: the sink discipline a production load runs
    * so a bad batch can never become the readable table — write the
    * frame to a staging directory, run the expectation rules
    * ([[Checks]]'s violation semantics, fused with the row count into
    * one aggregate pass), evaluated
    * against WHAT WAS ACTUALLY WRITTEN (re-read from disk, so the
    * audit sees exactly what readers would), and only then swap it
    * into place. On any failing rule the staging directory is removed
    * and the previous published data is left untouched; the swap is
    * [[swapInto]]'s rename-aside protocol — a complete readable copy
    * exists at every instant, so a crash at ANY point leaves either
    * the old table at `path`, or the old copy at `<path>.prev` plus
    * the audited new data at `<path>.publish-tmp` — never a state
    * with no readable table. Returns the published row count.
    *
    * `partitionBy` stages a PARTITIONED layout (the shape a 100 TB
    * fact actually has): the audit re-reads the staged tree through
    * partition discovery — so the partition columns themselves are
    * auditable — and the swap is still ONE directory rename, exactly
    * as atomic as the flat case. */
  def publishAudited(df: DataFrame, path: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      partitionBy: Seq[String] = Seq.empty): Long = {
    Checks.validateRuleNames(rules.map(_._1))
    val s = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a crashed previous swap is healed FIRST, so even if this run's
    // audit fails (which removes its own staging copy) the old table
    // is back at `path`, not stranded at `.prev`
    recoverSwap(fs, p)
    val tmp = hiddenSibling(p, ".publish-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(tmp.toString)
    // ONE fused pass over the staged data: the row count rides the
    // same aggregate as every rule's violation sum (a second count()
    // scan would double the audit-phase IO on a 100 TB batch). Any
    // failure from here to the rename — a failing verdict OR a thrown
    // audit (e.g. a rule referencing a column the frame lacks) —
    // removes the staging copy instead of leaking it.
    val rows =
      try {
        val staged = s.read.parquet(tmp.toString)
        val aggs = count(lit(1)).as("__row_count") +:
          rules.map { case (name, rule) => Checks.violationAgg(rule).as(name) }
        // read positionally: slot 0 is the count, slot i+1 is rule i
        // (no name-based resolution, so dotted rule names are safe)
        val row = staged.agg(aggs.head, aggs.tail: _*).collect()(0)
        val failed = rules.zipWithIndex.flatMap { case ((name, _), i) =>
          val v = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
          if (v > 0) Some(s"$name ($v violations)") else None
        }
        if (failed.nonEmpty)
          throw new IllegalStateException(
            "publishAudited aborted — failing rules: " +
              failed.mkString(", ") + s"; nothing published at $path")
        row.getLong(0)
      } catch {
        case e: Throwable =>
          fs.delete(tmp, true)
          throw e
      }
    swapInto(fs, tmp, p)
    rows
  }

  /** Bucketed saved table: rows are hash-distributed into `buckets`
    * files by the join key AND sorted within each bucket. Two tables
    * bucketed the same way join with NO shuffle and NO sort — the
    * co-located join that makes repeated fact-to-fact joins viable at
    * 100 TB (pay the distribution once at write time, reuse it every
    * query). Requires saveAsTable (bucket metadata lives in the
    * catalog). */
  def saveBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val s = df.sparkSession
    // unqualified names only: the managed-table location below is
    // derived from the CURRENT database, so a "db.table" name would
    // drop one table and clear another's directory
    require(!table.contains('.'),
      s"saveBucketed takes an unqualified table name, got '$table'")
    // overwrite semantics across SESSIONS, not just within one: drop
    // any catalog entry, then clear a stray managed-table directory a
    // previous session may have left (saveAsTable refuses to reuse an
    // existing location it has no catalog entry for —
    // LOCATION_ALREADY_EXISTS). The catalog knows the database's real
    // location (covering databases created with a custom LOCATION,
    // where a hand-built warehouse/<db>.db path would clear the wrong
    // directory); managed tables live at <db location>/<table>. Table
    // names are lowercased with a fixed locale (locale-sensitive
    // toLowerCase would mangle 'I' under tr_TR).
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val lc = (n: String) => n.toLowerCase(java.util.Locale.ROOT)
    // locationUri is a percent-encoded URI string; going through
    // java.net.URI decodes it (a raw Path would treat %20 as literal
    // characters and miss the real directory)
    val dbLoc = s.catalog.getDatabase(s.catalog.currentDatabase)
      .locationUri
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new java.net.URI(dbLoc)), lc(table))
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      // the directory may be the LOCATION of a DIFFERENT table (an
      // external table registered under another name — dropping
      // `table` does not protect it) or unrelated user data that
      // happens to share the name. Deleting either would silently
      // destroy data, so: (1) no catalog table may resolve to this
      // path, and (2) the contents must look like a prior managed
      // parquet write (committer artifacts only) — fail loudly
      // otherwise instead of clearing it.
      val qualified = fs.makeQualified(loc)
      // EVERY database is scanned, not just the current one: an
      // external table in another database can be registered at this
      // exact path, and dropping/deleting it from here would destroy
      // its data just the same
      val owners = s.catalog.listDatabases().collect().flatMap { d =>
        s.catalog.listTables(d.name).collect()
          .filter(t =>
            t.tableType == "MANAGED" || t.tableType == "EXTERNAL")
          .filter { t =>
            val meta = s.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(
                t.name, Some(d.name)))
            fs.makeQualified(new org.apache.hadoop.fs.Path(
              meta.location)) == qualified
          }
          .map(t => s"${d.name}.${t.name}")
      }
      require(owners.isEmpty,
        s"refusing to overwrite $qualified: it is the location of " +
          s"table(s) ${owners.mkString(", ")}; saveBucketed('$table') " +
          "would destroy them.")
      val foreign = fs.listStatus(loc).map(_.getPath.getName)
        .filterNot(n => n.startsWith("part-") || n.startsWith("_") ||
          n.startsWith("."))
      require(foreign.isEmpty,
        s"refusing to clear $qualified: it contains non-committer " +
          s"file(s) ${foreign.take(5).mkString(", ")} — not a prior " +
          "managed parquet write. Move the data or pick another table " +
          "name.")
      fs.delete(loc, true)
    }
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }
}
