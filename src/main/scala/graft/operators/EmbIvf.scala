package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF family: k-means coarse quantizer (seed + Lloyd training),
  * live and persisted inverted-list serving, SemDeDup, centroid
  * analytics. Split from [[EmbeddingOps]] purely mechanically. */
private[graft] trait EmbIvfOps { this: EmbeddingOps.type =>

  /** Coarse-quantizer configuration — PUBLIC because the SQL oracle
    * generators (SuiteML's kmeansCellsCte) must train the identical
    * quantizer: seed-centroid count and Lloyd rounds live HERE, in
    * one place, for both the Spark pipeline and its oracles. */
  val KmSeeds = 16

  val KmIters = 2

  /** IVF (inverted-file) top-k, after the coarse-quantizer stage of
    * Jegou et al., "Product quantization for nearest neighbor search",
    * TPAMI 2011 — the other classic ANN scale path:
    * a deterministic coarse quantizer (the first nCentroids vectors,
    * broadcast) assigns every vector to its nearest-centroid cell; a
    * query probes its nProbe nearest cells and brute-forces only those.
    * At scale the assignment is one broadcast pass over the corpus and
    * each query touches |corpus| * nProbe / nCentroids candidates. All
    * scoring is exact-integer cosine, so results are deterministic and
    * oracle-checkable. */
  /** Deterministic seed centroids: the first `nCentroids` vectors of
    * the corpus (cent_id, cq, cn) — the coarse quantizer's starting
    * point for both serving and training. */
  def seedCentroids(e: DataFrame, nCentroids: Int): DataFrame =
    e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("nn").as("cn"))

  /** Centroid assignment shared by the serving ([[ivfTopK]]) and
    * training ([[kmeansStep]], [[kmeansCentroids]]) halves of the
    * coarse quantizer: every vector ranked against the broadcast
    * centroids by exact-integer cosine (ties -> smallest centroid id).
    * One definition — the two halves cannot drift on the assignment
    * rule. Centroids are centroid-cardinality, always broadcast. */
  private[graft] def rankedAgainst(e: DataFrame, cents: DataFrame): DataFrame = {
    val scoredCents = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("q"), col("nn"), col("cent_id"),
        cosine(qdot(col("q"), col("cq")), col("nn"), col("cn"))
          .as("ccos"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    scoredCents.withColumn("crk", row_number().over(wAssign))
  }

  /** Centroid-count bound for the PER-ROW literal routes
    * ([[assignedCells]], [[probedCells]]): each collected centroid
    * becomes a typedlit struct in the expression tree, so the plan
    * grows O(nCentroids x dim) — fine at quantizer-table cardinality
    * (KmSeeds = 16, label sets), but a 4k–64k-cell production
    * quantizer would brush codegen's 64 KB method limit and bloat
    * every plan that embeds it. The limit(N+1) probe bounds the
    * driver collect AND picks the route: at or under the cap, the
    * literal argmax/slice (zero exchange); over it, the broadcast
    * form (one BroadcastExchange, no literals — value-identical,
    * spec-pinned). */
  private[graft] val MaxLiteralCentroids = 64

  /** The crk = 1 slice of [[rankedAgainst]] computed PER ROW — argmax
    * cell assignment against the DRIVER-COLLECTED centroid list. The
    * cross-join + window form shuffles nCentroids x corpus rows (q
    * arrays included) through one exchange per use; the argmax needs
    * no exchange at all: each row scores the <= nCentroids literal
    * centroids and keeps the best (guide §2.4 — remove shuffles
    * outright; assignment becomes a pure corpus map). The tie-break
    * matches rankedAgainst exactly: highest ccos, then smallest
    * cent_id, via struct-max over (ccos, -cent_id); NaN ranks
    * greatest under Spark's double ordering in both forms, so
    * degenerate zero-norm rows keep the window semantics. The
    * centroid collect is BOUNDED by a limit([[MaxLiteralCentroids]]+1)
    * probe — an oversized centroid frame is never pulled to the
    * driver; it takes the broadcast-join + max-struct route instead:
    * the same (ccos, -cent_id) struct ordered by the same max, with
    * the corpus grouped on its own (vec_id-unique) columns, so the
    * partial aggregate collapses to one row per vector inside the
    * scan partition and one keyed exchange carries (row, best) —
    * never nCentroids x corpus. Output is e's columns plus (cent_id,
    * ccos) on every route; an empty centroid frame yields the empty
    * assignment. */
  private[graft] def assignedCells(e: DataFrame,
      cents: DataFrame): DataFrame = {
    val idType = cents.schema("cent_id").dataType
    val centRows = Route.bounded(
      cents.select(col("cent_id"), col("cq"), col("cn")),
      MaxLiteralCentroids)
    if (centRows.exists(_.isEmpty))
      e.where(lit(false))
        .withColumn("cent_id", lit(null).cast(idType))
        .withColumn("ccos", lit(null).cast("double"))
    else if (centRows.isDefined) {
      val scored = centRows.get.toSeq.map { r =>
        val id = r.get(0).asInstanceOf[Number].longValue
        val cq = r.getAs[scala.collection.Seq[Long]](1).toSeq
        val cn = r.get(2).asInstanceOf[Number].longValue
        struct(
          cosine(qdot(col("q"), typedlit(cq)), col("nn"), lit(cn))
            .as("ccos"),
          lit(-id).as("nid"))
      }
      e.withColumn("__best", array_max(array(scored: _*)))
        .withColumn("cent_id", (-col("__best.nid")).cast(idType))
        .withColumn("ccos", col("__best.ccos"))
        .drop("__best")
    } else {
      // over-cap route: centroids broadcast once (no plan literals),
      // best-per-row via the SAME (ccos, -cent_id) struct under max.
      // Grouping on e's own columns is grouping by vec_id (unique by
      // contract) with the rest carried — map-side combine collapses
      // each vector to one candidate before the exchange (§2.3).
      val eCols = e.columns.toSeq
      e.join(broadcast(cents.select(col("cent_id"), col("cq"),
          col("cn"))), lit(true))
        .select(eCols.map(col) :+ struct(
          cosine(qdot(col("q"), col("cq")), col("nn"), col("cn"))
            .as("ccos"),
          (-col("cent_id").cast("long")).as("nid")).as("__cand"): _*)
        .groupBy(eCols.map(col): _*)
        .agg(max(col("__cand")).as("__best"))
        .withColumn("cent_id", (-col("__best.nid")).cast(idType))
        .withColumn("ccos", col("__best.ccos"))
        .drop("__best")
    }
  }

  /** The crk <= nProbe slice of [[rankedAgainst]] computed PER ROW —
    * the probe-side twin of [[assignedCells]] for the serving doors:
    * each row scores the <= [[MaxLiteralCentroids]] literal centroids,
    * sorts the (ccos, -cent_id) structs DESCENDING (exactly the
    * window's ccos desc, cent_id asc order — NaN greatest on both
    * routes), keeps the first nProbe, and explodes — no cross-join,
    * no window exchange on the query frame. Over the cap the
    * cross-join + window route runs unchanged. Output is (vec_id, q,
    * nn, cent_id), one row per (vector, probed cell) — the exact pair
    * set `rankedAgainst(..).where(crk <= nProbe)` yields. */
  private[graft] def probedCells(e: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val idType = cents.schema("cent_id").dataType
    val centRows = Route.bounded(
      cents.select(col("cent_id"), col("cq"), col("cn")),
      MaxLiteralCentroids)
    if (centRows.exists(_.isEmpty))
      e.where(lit(false)).select(col("vec_id"), col("q"), col("nn"))
        .withColumn("cent_id", lit(null).cast(idType))
    else if (centRows.isDefined) {
      val scored = centRows.get.toSeq.map { r =>
        val id = r.get(0).asInstanceOf[Number].longValue
        val cq = r.getAs[scala.collection.Seq[Long]](1).toSeq
        val cn = r.get(2).asInstanceOf[Number].longValue
        struct(
          cosine(qdot(col("q"), typedlit(cq)), col("nn"), lit(cn))
            .as("ccos"),
          lit(-id).as("nid"))
      }
      e.select(col("vec_id"), col("q"), col("nn"),
          explode(slice(sort_array(array(scored: _*), asc = false),
            1, nProbe)).as("__p"))
        .select(col("vec_id"), col("q"), col("nn"),
          (-col("__p.nid")).cast(idType).as("cent_id"))
    } else
      rankedAgainst(e, cents).where(col("crk") <= nProbe)
        .select(col("vec_id"), col("q"), col("nn"), col("cent_id"))
  }

  /** IVF probe against an EXPLICIT centroid frame (cent_id, cq, cn) —
    * the serving half once a trained quantizer exists. [[ivfTopK]] is
    * the seed-centroid special case. `e` is the [[quantized]] corpus. */
  def ivfTopKWith(e: DataFrame, cents: DataFrame, nQueries: Int = 5,
      nProbe: Int = 2, k: Int = 10): DataFrame = {
    // cells: per-row argmax (no corpus-wide window exchange); probes:
    // per-row sorted slice over the nQueries-filtered frame — the
    // same §2.3 pattern, no cross-join + window on the query side
    val cells = assignedCells(e, cents)
      .select(col("vec_id"), col("q"), col("nn"), col("cent_id").as("cell"))
    val probes = probedCells(e.where(col("vec_id") < nQueries), cents,
        nProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nn").as("qn"), col("cent_id").as("cell"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(cells, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn")).as("cos"))
      // no dedup needed: each candidate lives in exactly one cell
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
  }

  def ivfTopK(emb: DataFrame, nCentroids: Int = KmSeeds, nQueries: Int = 5,
      nProbe: Int = 2, k: Int = 10): DataFrame = {
    val e = quantized(emb)
    ivfTopKWith(e, seedCentroids(e, nCentroids), nQueries, nProbe, k)
  }

  /** Persist an IVF index as a warehouse artifact — the offline-build
    * / online-serve split every production ANN system has: the coarse
    * quantizer is fixed once, every vector is assigned once, and the
    * INVERTED LISTS land as cell-partitioned parquet so serving reads
    * only the probed cells. Layout: `$path/centroids` (cent_id, cq,
    * cn — centroid-cardinality), `$path/lists/seg=N/cell=C` segment
    * directories (vec_id, q, nn), and the `$path/_segs` generation
    * manifest gating which segments serving reads. `iters` = 0 keeps
    * the deterministic seed quantizer (the [[ivfTopK]] construction,
    * so indexed serving is oracle-comparable to the live path); > 0
    * runs Lloyd rounds ([[kmeansCentroidsQ]]). The lists are assigned
    * against the READ-BACK centroid table, so index files can never
    * drift from what serving loads. Assignment is one broadcast pass
    * over the corpus; the lists write repartitions by cell so each
    * cell is one file, not tasks x cells (the fold-state discipline).
    *
    * A REBUILD is crash-atomic and stale-proof: the whole tree stages
    * at a hidden sibling and swaps in with the warehouse rename-aside
    * protocol — readers see the old index until the one committing
    * rename, and no partition from a previous (possibly larger) build
    * can survive into the new one regardless of the session's
    * partitionOverwriteMode (there is no partition-level overwrite to
    * misconfigure: the old root leaves wholesale). */
  def ivfIndexWrite(emb: DataFrame, path: String,
      nCentroids: Int = KmSeeds, iters: Int = 0): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val e = quantized(emb).pinned
    val cents =
      if (iters == 0) seedCentroids(e, nCentroids)
      else kmeansCentroidsQ(e, nCentroids, iters)
    cents.write.mode("overwrite").parquet(s"$tmp/centroids")
    val saved = s.read.parquet(s"$tmp/centroids")
    // label rides into the stored lists (one keyed join at offline
    // build time) so filtered serving (ivfTopKIndexedWhere) can push
    // metadata predicates into the pruned scan
    assignedCells(e, saved)
      .select(col("vec_id"), col("q"), col("nn"),
        col("cent_id").cast("int").as("cell"))
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$tmp/lists/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp) // a rebuild expires + retires
  }

  /** Append a NEW batch of vectors to a persisted IVF index: the
    * batch is assigned against the STORED centroids (the quantizer is
    * fixed at build time — the faiss `add` contract; re-seeding would
    * silently re-home existing lists) and lands as one new segment
    * directory. IO is O(batch), never O(index). The append is
    * CRASH-ATOMIC via the segment protocol above: the segment stages
    * hidden, renames visible, and only the manifest commit makes it
    * servable — a kill anywhere leaves serving exactly as before, and
    * re-running the append completes it. Caller contract: vec_ids
    * must be new (the index has no registry; feed ingestion through
    * the streaming graft.streaming.Streams.embeddingSink registry
    * when dedup/mutation protection matters), and one appender at a
    * time per index root. */
  def ivfIndexAppend(emb: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = emb.sparkSession
    val cents = s.read.parquet(s"$path/centroids")
    val e = quantized(emb).pinned
    val assigned = assignedCells(e, cents)
      .select(col("vec_id"), col("q"), col("nn"),
        col("cent_id").cast("int").as("cell"))
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .repartition(col("cell"))
    appendSegment(s, path, "lists",
      staged => assigned.write.partitionBy("cell")
        .mode("overwrite").parquet(staged),
      failpoint, stamp)
  }

  /** [[pqIndexWriteWith]] for the IVF family: shards assign against
    * an existing root's centroids (copied byte-for-byte into the
    * staged tree, read back before assignment — the fixed-quantizer
    * `add` contract) instead of seeding their own, so the shard
    * roots are quantizer-identical by construction and
    * [[ivfIndexMerge]] can stitch them. */
  def ivfIndexWriteWith(emb: DataFrame, path: String,
      quantizerFrom: String): Unit = {
    val s = emb.sparkSession
    val (fs, root) = fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val from = new org.apache.hadoop.fs.Path(quantizerFrom, "centroids")
    require(fs.exists(from),
      s"no centroids table at $quantizerFrom — not an IVF root")
    org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
      new org.apache.hadoop.fs.Path(tmp, "centroids"), false, false,
      s.sparkContext.hadoopConfiguration)
    val saved = s.read.parquet(s"$tmp/centroids")
    val e = quantized(emb).pinned
    assignedCells(e, saved)
      .select(col("vec_id"), col("q"), col("nn"),
        col("cent_id").cast("int").as("cell"))
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$tmp/lists/seg=0")
    commitGen(fs, new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    publishStaged(fs, root, tmp)
  }

  /** [[graft.operators.EmbeddingOps.mergeRoots]] for the IVF family:
    * list segments renumber by manifest surgery (cell partition dirs
    * ride inside them — the serve's static cell pruning is
    * untouched); centroids must be content-equal across sources
    * ([[ivfIndexWriteWith]] shards). CONSUMES the sources; vec_id
    * domains must be disjoint. */
  def ivfIndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    mergeRoots(s, sources, dest, Seq("lists"), Seq("centroids"),
      validate = requireEqualMetaTables(s, _, Seq("centroids")),
      failpoint = failpoint)

  /** Consolidate a persisted index's segment chain — the maintenance
    * twin of Streams.compactState for [[ivfIndexAppend]]/
    * [[pqIndexAppend]] artifacts: after many appends serving fans
    * over every committed `seg=N` directory; compaction reads the
    * committed segments FROM STORAGE (no re-assignment, no
    * re-encoding — the quantizer/codebooks and every row are already
    * final), stages a whole fresh index tree with ONE segment, and
    * swaps it in with the warehouse rename-aside protocol. Readers
    * see the old tree until the committing rename; a kill at any
    * point leaves the old index serving (the staged sibling is hidden
    * and replaced wholesale on retry). Single maintainer at a time.
    * Committed TOMBSTONES ([[indexDelete]]) apply physically during
    * the rewrite and clear with it — a single-segment index with
    * deletions still compacts. Returns the number of segments
    * consolidated (0 = already compact and tombstone-free). */
  def ivfIndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String): Int =
    compactSegments(s, path, "lists", Seq("centroids"),
      df => df.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite"))

  /** Size-tiered tail compaction for the IVF index
    * ([[tailCompactSegments]]): bounds the segment count by merging
    * only the smallest segments, O(tail) IO — the big old list
    * segments never rewrite. Cell partitioning preserved. */
  def ivfIndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int =
    tailCompactSegments(s, path, "lists",
      df => df.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite"),
      maxSegments = maxSegments, failpoint = failpoint)

  /** The standing maintenance policy for an IVF root
    * ([[maintainIndexWith]]): forget sweep -> full rewrite; over
    * `maxSegments` -> tail merge. */
  def ivfIndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    maintainIndexWith(s, path, maxSegments)(
      ivfIndexCompactTail(s, path, maxSegments))(
      ivfIndexCompact(s, path))

  /** Serve top-k from a PERSISTED index ([[ivfIndexWrite]]): queries
    * (vec_id, embedding) rank against the stored centroids
    * (broadcast, centroid-cardinality) and ONLY the probed cells'
    * list partitions are read — the probe set is bounded by
    * nCentroids BY CONSTRUCTION, so collecting it and pushing a
    * literal `cell IN (...)` is the centroid-broadcast rule, and the
    * pruning is STATIC (visible in the scan's PartitionFilters, not
    * dependent on runtime DPP). IO per serve is
    * |corpus| * nProbe / nCentroids, never the corpus. Only segments
    * the generation manifest commits are read (a second static
    * partition filter, on `seg`) — an in-flight or crashed append is
    * invisible. Candidates with vec_id == query_id are excluded (the
    * corpus-queries convention of [[ivfTopKWith]]). With `asOf`, the
    * segment and tombstone sets pin to the snapshot's capture-time
    * view ([[indexSnapshot]]); the centroids sidecar is only replaced
    * by full-tree swaps — which bump the epoch and expire the token —
    * so it is stable over any live snapshot by construction. */
  def ivfTopKIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, nProbe: Int = 2,
      k: Int = 10, asOf: Option[IndexSnapshot] = None): DataFrame = {
    // resolve once: a pinned read within the retention grace serves
    // the RETIRED tree wholesale (centroids included — a rebuild may
    // have replaced the quantizer)
    val base = snapshotRoot(s, path, asOf)
    // centroids as a cached local relation (fixed per incarnation):
    // the probe ranking runs per row off the localized rows — no
    // scan job, no cross-join + window on the query frame
    val cents = localizedMeta(s, base, "centroids")
    val probes = probedCells(quantized(queries), cents, nProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nn").as("qn"), col("cent_id").cast("int").as("cell"))
      .pinned // feeds the probe-set literal AND the candidate join
    val probedSet = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val lists = s.read.parquet(s"$base/lists")
      .where(segFilter(s, base, asOf) &&
        col("cell").isin(probedSet.map(Int.box): _*))
      // committed tombstones mask deleted vectors (anti-join — the
      // tombstone set is unbounded, never collected)
      .join(tombstones(s, base, asOf = asOf), Seq("vec_id"), "left_anti")
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(lists, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn")).as("cos"))
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
  }

  /** [[ivfTopKIndexed]] with a metadata predicate pushed INTO the
    * pruned lists scan — filtered ANN, the "search only label L /
    * tenant T" serving mode every vector store exposes: the predicate
    * composes with the static cell and committed-segment prunes and
    * reaches the parquet reader as a pushed filter (the lists store
    * `label` for exactly this), so non-matching vectors are skipped
    * at the scan, never materialized or ranked. Top-k is per query
    * AMONG matching vectors; output carries the label. */
  def ivfTopKIndexedWhere(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, pred: Column,
      nProbe: Int = 2, k: Int = 10,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    val base = snapshotRoot(s, path, asOf)
    val cents = localizedMeta(s, base, "centroids")
    val probes = probedCells(quantized(queries), cents, nProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nn").as("qn"), col("cent_id").cast("int").as("cell"))
      .pinned
    val probedSet = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val lists = s.read.parquet(s"$base/lists")
      .where(segFilter(s, base, asOf) &&
        col("cell").isin(probedSet.map(Int.box): _*) && pred)
      .join(tombstones(s, base, asOf = asOf), Seq("vec_id"), "left_anti")
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(lists, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn")).as("cos"))
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }

  /** Inverted-list balance report for a PERSISTED IVF-family index —
    * the operational monitoring artifact every ANN deployment watches
    * (cell imbalance is what drives probe-latency tails: a probe
    * costs its largest probed cell): per-cell committed entry counts
    * with min/max/avg context on every row. Reads the index's own
    * list/code rows (tombstones excluded — the report describes what
    * serving sees); one count aggregate over the cell partition
    * column, output is nCentroids rows. */
  def indexCellStats(s: org.apache.spark.sql.SparkSession,
      path: String, dataDir: String = "lists"): DataFrame = {
    val rows = s.read.parquet(s"$path/$dataDir")
      .where(segFilter(s, path))
      .join(tombstones(s, path), Seq("vec_id"), "left_anti")
      .select(col("cell"), col("vec_id")).distinct()
    val perCell = rows.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_entries"))
    val totals = perCell.agg(
      sum(col("n_entries")).as("n_total"),
      min(col("n_entries")).as("min_entries"),
      max(col("n_entries")).as("max_entries"),
      count(lit(1)).as("n_cells"))
    perCell.join(broadcast(totals), lit(true))
      .select(col("cell"), col("n_entries"), col("n_total"),
        col("min_entries"), col("max_entries"), col("n_cells"),
        (col("n_entries").cast("double") * col("n_cells")
          / col("n_total")).as("balance_ratio"))
  }

  /** One Lloyd (k-means) update step over the quantized embeddings —
    * the training half of the IVF coarse quantizer ([[ivfTopK]] is the
    * serving half): assign every vector to its nearest current
    * centroid by exact-integer cosine (ties -> smallest centroid id),
    * then recompute each cell's centroid as the per-component mean of
    * its members.
    *
    * Output stays in exploded (cell, component, mean) form: each mean
    * is an exact long sum with ONE final division (deterministic and
    * oracle-checkable), and nothing re-collects arrays through a
    * nondeterministically-ordered collect_list. Scale shape: centroids
    * broadcast, corpus scanned once for assignment, component sums are
    * one map-side-combined shuffle keyed (cell, component). */
  def kmeansStep(emb: DataFrame, nCentroids: Int = KmSeeds): DataFrame = {
    val e = quantized(emb)
    assignedCells(e, seedCentroids(e, nCentroids))
      .select(col("cent_id").as("cell"),
        posexplode(col("q")).as(Seq("c", "v")))
      .groupBy(col("cell"), col("c"))
      .agg(count(lit(1)).as("n_members"), sum(col("v")).as("sum_v"))
      .select(col("cell"), col("c"), col("n_members"),
        (col("sum_v").cast("double") / col("n_members")).as("mean_v"))
  }

  /** The closed training loop: `iters` Lloyd rounds, each assigning by
    * exact-integer cosine and recomputing centroids as the per-cell
    * component means RE-QUANTIZED to integer milli-units
    * (round(sum/n) — half away from zero, identical in Spark and
    * DuckDB), so every round's centroids live in the same exact-integer
    * domain as the vectors and the whole loop stays deterministic and
    * oracle-checkable. Cells that lose all members drop out (standard
    * Lloyd degeneracy; cell count can only shrink).
    *
    * Scale shape per round: centroids broadcast, one corpus scan for
    * assignment, component sums one map-side-combined shuffle keyed
    * (cell, c); the new centroid frame (<= nCentroids rows) is
    * pinned (Stage.pinned) so round t+1's plan does not re-derive round t.
    * Returns (cent_id, cq, cn) ready for [[ivfTopKWith]]. */
  def kmeansCentroids(emb: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters): DataFrame =
    kmeansCentroidsQ(quantized(emb).pinned, nCentroids, iters)

  /** Quantizer-training diagnostics: per centroid, how far Lloyd
    * moved it from its seed — the exact-integer squared L2 drift and
    * the seed-vs-trained cosine. The monitoring row an ANN deployment
    * reads before trusting a retrain (a centroid that barely moved
    * did not need the retrain; one that swung far re-homed its list).
    * Centroid-cardinality output; the corpus is touched only through
    * the training itself. */
  def centroidDrift(emb: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters): DataFrame = {
    val e = quantized(emb).pinned
    val seed = seedCentroids(e, nCentroids)
      .select(col("cent_id").cast("long").as("cent_id"),
        col("cq").as("sq"), col("cn").as("sn"))
    val trained = kmeansCentroidsQ(e, nCentroids, iters)
      .select(col("cent_id").cast("long").as("cent_id"),
        col("cq").as("tq"), col("cn").as("tn"))
    seed.join(trained, Seq("cent_id"))
      .select(col("cent_id"),
        aggregate(zip_with(col("sq"), col("tq"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("drift_sq"),
        cosine(qdot(col("sq"), col("tq")), col("sn"), col("tn"))
          .as("cos"))
  }

  /** [[kmeansCentroids]] over an already-quantized (and ideally
    * checkpointed) frame `e` — the corpus is scanned once per Lloyd
    * round from `e`, never re-derived. */
  def kmeansCentroidsQ(e: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters): DataFrame = {
    // each round's assignedCells collects the previous round's
    // centroid frame (<= nCentroids rows, the bounded materialization
    // the old per-round pin performed anyway) and assigns per row —
    // no per-round cross-join + window exchange of nCentroids x
    // corpus rows, and no per-round checkpoint either
    var cents = seedCentroids(e, nCentroids)
    for (_ <- 0 until iters) {
      cents = assignedCells(e, cents)
        .select(col("cent_id").as("cell"),
          posexplode(col("q")).as(Seq("c", "v")))
        .groupBy(col("cell"), col("c"))
        .agg(round(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("mq"))
        .groupBy(col("cell").as("cent_id"))
        // array_sort on (c, mq) structs orders by the unique component
        // index, so re-assembly is deterministic (no collect_list order
        // dependence)
        .agg(transform(
          array_sort(collect_list(struct(col("c"), col("mq")))),
          x => x.getField("mq")).as("cq"))
        .withColumn("cn",
          aggregate(col("cq"), lit(0L), (acc, x) => acc + x * x))
    }
    // re-emit the bounded centroid frame as a LocalRelation: every
    // downstream consumer (the assignment collect, a broadcast build,
    // a parquet write) reads the driver-local rows instead of
    // re-running the last Lloyd round per consumer
    val out = cents.select(col("cent_id"), col("cq"), col("cn"))
    e.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  def semanticDedup(emb: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters, threshold: Double = 0.45): DataFrame = {
    val e = quantized(emb).pinned
    val cents = kmeansCentroidsQ(e, nCentroids, iters)
    val cells = assignedCells(e, cents)
      .select(col("vec_id"), col("q"), col("nn"),
        col("cent_id").as("cell"))
      .pinned // feeds both sides of the pair self-join
    pairsWithinGroup(cells, "cell", threshold)
  }

  /** Clustering objective for the trained quantizer: per-corpus sum of
    * (1 - cos(vector, assigned centroid)) plus the member count — the
    * spherical-k-means inertia the trainer is descending. One row;
    * used by specs to pin that training never worsens the seed
    * objective (per-step monotone descent is NOT guaranteed under the
    * integer-requantized update, so only seed-vs-trained is pinned). */
  def kmeansObjective(emb: DataFrame, cents: DataFrame): DataFrame =
    assignedCells(quantized(emb), cents)
      .agg(sum(lit(1.0) - col("ccos")).as("inertia"),
        count(lit(1)).as("n_vectors"))

  /** recall@k of the TRAINED IVF probe against the exact brute-force
    * top-k ([[annTopK]]) — the measurement that closes the ANN loop:
    * per query, how many of the true k nearest the nprobe-cell search
    * found. Both sides are deterministic, so the recall is an exact
    * integer ratio the oracle recomputes end-to-end (including the
    * Lloyd rounds). */
  def ivfRecall(emb: DataFrame, nCentroids: Int = KmSeeds, iters: Int = KmIters,
      nQueries: Int = 5, nProbe: Int = 4, k: Int = 10): DataFrame = {
    // ONE quantization scan shared by the brute baseline, the trainer
    // (every Lloyd round), and the probe — checkpointed so none of the
    // three re-derives it from the raw embeddings
    val e = quantized(emb).pinned
    val brute = annTopKQ(e, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val ivf = ivfTopKWith(e, kmeansCentroidsQ(e, nCentroids, iters),
        nQueries, nProbe, k)
      .select(col("query_id"), col("vec_id"))
    recallVsBrute(brute, ivf, k)
  }

  /** Trained-quantizer cell assignment, exposed for cross-family
    * compositions (cluster-topic labeling joins these cells to the
    * DOCUMENT table): each vector's argmax cell under the
    * [[kmeansCentroidsQ]]-trained centroids — exactly the partition
    * [[semanticDedup]] bounds its candidate pairs with. */
  def cellAssignments(emb: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters): DataFrame = {
    val e = quantized(emb).pinned
    assignedCells(e, kmeansCentroidsQ(e, nCentroids, iters))
      .select(col("vec_id"), col("cent_id").as("cell"))
  }

  /** Per-cell candidate-volume card for the LIVE semantic-dedup path
    * — the monitoring row behind [[semanticDedup]]'s scale contract
    * (and [[indexCellStats]]' live twin): SemDeDup's within-cell
    * pairwise cost is bounded by scaling nCentroids with the corpus,
    * and this card is what tells the operator WHEN — per trained
    * cell, its member count and the exact all-pairs volume
    * semanticDedup will score there (B(B-1)/2). A drifting max is the
    * raise-nCentroids signal; the hub-star cap deliberately does NOT
    * apply here (a cell is a semantic region, not a dup cluster — see
    * [[GroupCap]]), so the bound has to come from the quantizer, and
    * the card keeps that honest. One nCentroids-sized aggregate over
    * the assignment scan. */
  def semanticCellVolume(emb: DataFrame, nCentroids: Int = KmSeeds,
      iters: Int = KmIters): DataFrame =
    cellAssignments(emb, nCentroids, iters)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("n_pairs",
        expr("n_members * (n_members - 1) div 2"))

  /** Nearest-centroid (Rocchio) classification audit: per-label
    * centroids as REQUANTIZED integer means (per-component sum div
    * count — the [[kmeansCentroidsQ]] requantization, so both engines
    * agree bit-for-bit), every vector assigned to its most-cosine-
    * similar label centroid, and the (label, pred) confusion counts
    * reported. The read that says whether labels are separable in
    * embedding space at all — run BEFORE trusting label-conditioned
    * curation. The label-cardinality centroid frame is the one
    * broadcast; assignment is one corpus scan with a pre-trimmed
    * argmax window. */
  def centroidClassify(emb: DataFrame): DataFrame = {
    val e = quantized(emb).pinned
    val cents = e
      .select(col("label"), posexplode(col("q")).as(Seq("c", "v")))
      .groupBy(col("label"), col("c"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("m", expr("sv div n"))
      .groupBy(col("label"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(c, m))), r -> r.m)")
        .as("cq"))
      .withColumn("cn",
        aggregate(col("cq"), lit(0L), (acc, x) => acc + x * x))
      .select(col("label").as("pred"), col("cq"), col("cn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("pred").asc)
    e.join(broadcast(cents))
      .select(col("vec_id"), col("label"), col("pred"),
        cosine(qdot(col("q"), col("cq")), col("nn"), col("cn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_vecs"))
  }
}
