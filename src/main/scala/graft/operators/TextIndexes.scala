package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted text indexes (BM25 inverted index, MinHash near-dup
  * index) — offline-build/online-serve operators of [[TextOps]],
  * all under the crash-atomic segment/manifest protocol. Split from
  * the single object purely mechanically. */
private[graft] trait TextIndexOps { this: TextOps.type =>

  /** Per-batch BM25 index frames: postings (word, doc_id, tf, dl, tb)
    * with the doc length DENORMALIZED onto every posting row — serve
    * never needs a doc-cardinality side table — and the 1-row batch
    * totals. tb = pmod(hash(word), nBuckets) is the directory
    * partition key the serve path prunes on. With `positions`, each
    * posting additionally carries `ps` — the word's sorted 0-based
    * token positions in the doc (the Lucene positional-postings
    * layout): ~one int per corpus token of extra index footprint,
    * the standard positional trade, which is why it is a build-time
    * OPT-IN recorded in `params`. The array stays packed inside its
    * posting row (per-doc-bounded, the batch-shape discipline) —
    * positions never explode into rows, on write or serve. */
  private def bm25SegFrames(batch: DataFrame,
      nBuckets: Int, positions: Boolean): (DataFrame, DataFrame) = {
    val dl = batch.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl")).pinned
    val grouped = tokens(batch).groupBy(col("doc_id"), col("word"))
    val counted =
      if (positions)
        grouped.agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("ps"))
      else grouped.agg(count(lit(1)).as("tf"))
    val postings = counted
      .join(dl, Seq("doc_id"))
      .withColumn("tb", pmod(hash(col("word")), lit(nBuckets)))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_tok"))
    (postings, totals)
  }

  /** Persisted BM25 inverted index — the [[graft.operators
    * .EmbeddingOps.ivfIndexWrite]] protocol applied to retrieval.
    * Layout under `path`: `postings/seg=N/tb=B/` (term-bucketed
    * posting lists, doc length denormalized), `totals/seg=N/` (one
    * accumulating row per segment), `params/` (the write-once bucket
    * modulus), `_segs` manifest. Crash-atomic: built under a hidden
    * sibling, swapped in whole; a killed rebuild heals on the next
    * call. Serving ([[bm25TopKIndexed]]) reads ONLY the query terms'
    * buckets — IO is |corpus|·|terms' buckets|/nBuckets, never the
    * collection. */
  def bm25IndexWrite(docs: DataFrame, path: String,
      nBuckets: Int = 16, positional: Boolean = false): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val s = docs.sparkSession
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    Warehouse.recoverSwap(fs, root) // heal a crashed previous rebuild
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val (postings, totals) = bm25SegFrames(docs, nBuckets, positional)
    postings.repartition(col("tb"))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(s"$tmp/postings/seg=0")
    writeTermDict(s, s"$tmp/postings/seg=0")
    totals.write.mode("overwrite").parquet(s"$tmp/totals/seg=0")
    val sess = s
    import sess.implicits._
    // `positional` is FAMILY CONFIG, not a serve-time choice: appends
    // must lay segments out like the committed ones (a mixed chain
    // would silently null-pad `ps` across segments), so the flag is
    // write-once in params beside the bucket modulus
    Seq((nBuckets, positional)).toDF("n_buckets", "positional")
      .write.mode("overwrite").parquet(s"$tmp/params")
    EmbeddingOps.commitGen(fs,
      new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    EmbeddingOps.publishStaged(fs, root, tmp) // expires + retires
  }

  /** The write-once bucket modulus, cached per (base, epoch)
    * ([[IndexMetaCache]]): the `.head` used to cost one Spark job per
    * serve for a value that cannot change within an incarnation. */
  private def bm25Params(s: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    IndexMetaCache.cached(path, EmbeddingOps.epochOf(fs, root),
      "bm25_nbuckets")(Integer.valueOf(
        s.read.parquet(s"$path/params").head.getAs[Int]("n_buckets")))
      .intValue
  }

  /** Whether the index stores positional postings — write-once like
    * the modulus, cached the same way. Roots built before the flag
    * existed have no `positional` column and read as false. */
  private def bm25Positional(s: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    IndexMetaCache.cached(path, EmbeddingOps.epochOf(fs, root),
      "bm25_positional")(java.lang.Boolean.valueOf {
        val p = s.read.parquet(s"$path/params")
        p.columns.contains("positional") &&
          p.head.getAs[Boolean]("positional")
      }).booleanValue
  }

  /** Driver-side twin of the plan's bucket assignment
    * `pmod(hash(word), nBuckets)`: the SAME Catalyst expression
    * (Murmur3 seed 42 over the UTF-8 bytes) evaluated eagerly, so a
    * literal term list's bucket ids cost ZERO jobs — the spec pins
    * driver-vs-plan equality so the two can never drift. */
  private[graft] def termBucket(word: String, nBuckets: Int): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(word),
        org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Int]
    val m = h % nBuckets
    if (m < 0) m + nBuckets else m
  }

  /** Per-segment sorted term dictionary — the Lucene term-dict idea
    * rendered as a parquet sidecar (`postings/seg=N/_tdict/`): the
    * segment's DISTINCT words, range-partitioned and sorted, so a
    * prefix predicate prunes row groups via parquet min/max stats
    * and a multi-term query (prefix, wildcard) resolves against the
    * VOCABULARY (|distinct terms|) instead of scanning every postings
    * bucket (|corpus tokens|). Derived by reading back the freshly
    * written segment (column-pruned, no re-tokenization); lives
    * inside the segment dir, so it rides the append/merge renames
    * and regenerates at compaction like the other sidecars. */
  private def writeTermDict(s: org.apache.spark.sql.SparkSession,
      segDir: String): Unit =
    s.read.parquet(segDir).select(col("word")).distinct()
      .repartitionByRange(col("word"))
      .sortWithinPartitions(col("word"))
      .write.mode("overwrite").parquet(s"$segDir/_tdict")

  /** Resolve every index term with the given prefix off the committed
    * segments' `_tdict` sidecars. The collect is capped (the resolved
    * terms become a literal IN-list downstream, so an unbounded match
    * would pull the vocabulary onto the driver): over `cap` matches
    * refuse loudly — narrow the prefix or raise the cap. Vocabulary
    * drift contract matches the totals': tombstoned docs' words stay
    * in the dictionary until compaction (serving them just finds no
    * live postings). */
  def termsMatchingPrefix(s: org.apache.spark.sql.SparkSession,
      path: String, prefix: String, cap: Int = 1024,
      asOf: Option[IndexSnapshot] = None): Seq[String] = {
    require(prefix.nonEmpty,
      "empty prefix matches the whole vocabulary — use the dictionary" +
        " scan deliberately via termsMatchingLike(\"%\") if you mean it")
    termsWhere(s, path, col("word").startsWith(prefix),
      s"prefix '$prefix'", cap, asOf)
  }

  /** [[termsMatchingPrefix]] for an arbitrary SQL LIKE pattern.
    * Leading-wildcard patterns cannot row-group-prune (the dict is
    * sorted by word), but the scan is still vocabulary-bounded —
    * never a postings scan. */
  def termsMatchingLike(s: org.apache.spark.sql.SparkSession,
      path: String, pattern: String, cap: Int = 1024,
      asOf: Option[IndexSnapshot] = None): Seq[String] =
    termsWhere(s, path, col("word").like(pattern),
      s"LIKE pattern '$pattern'", cap, asOf)

  /** [[termsMatchingPrefix]] for approximate matching (the Lucene
    * FuzzyQuery analog): every index term within `maxDist` Levenshtein
    * edits of `term`. The dict scan cannot row-group-prune (edit
    * distance has no sort-order locality) but a cheap length
    * pre-filter (`abs(len(word) - len(term)) <= maxDist`, implied by
    * the distance) skips the expensive DP for most of the vocabulary
    * — and the scan stays vocabulary-bounded, never a postings scan. */
  def termsMatchingFuzzy(s: org.apache.spark.sql.SparkSession,
      path: String, term: String, maxDist: Int = 1, cap: Int = 1024,
      asOf: Option[IndexSnapshot] = None): Seq[String] = {
    require(term.nonEmpty, "fuzzy term must be non-empty")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    termsWhere(s, path,
      abs(length(col("word")) - lit(term.length)) <= maxDist &&
        levenshtein(col("word"), lit(term)) <= maxDist,
      s"term '$term' within $maxDist edits", cap, asOf)
  }

  /** The committed (or snapshot-pinned) segments' `_tdict` sidecars
    * as one logical vocabulary frame — shared by every multi-term
    * resolution door. Refuses a legacy segment predating the sidecar
    * with the rebuild/compact guidance. */
  private[graft] def dictScan(s: org.apache.spark.sql.SparkSession,
      path: String, asOf: Option[IndexSnapshot]): DataFrame = {
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    val segs = asOf match {
      case Some(snap) => snap.dataSegs
      case None =>
        val (g, sg) = EmbeddingOps.committedSegs(fs,
          new org.apache.hadoop.fs.Path(root, "_segs"))
        require(g >= 0 && sg.nonEmpty,
          s"no index manifest at $path/_segs — not an index root")
        sg
    }
    val dictDirs = segs.map(k => s"$base/postings/seg=$k/_tdict")
    dictDirs.foreach(d => require(
      fs.exists(new org.apache.hadoop.fs.Path(d)),
      s"no _tdict sidecar at $d — rebuild or compact the index with " +
        "this version first"))
    s.read.parquet(dictDirs: _*)
  }

  private def termsWhere(s: org.apache.spark.sql.SparkSession,
      path: String, pred: org.apache.spark.sql.Column, what: String,
      cap: Int, asOf: Option[IndexSnapshot]): Seq[String] = {
    require(cap > 0, s"cap must be positive, got $cap")
    val got = Route.bounded(dictScan(s, path, asOf).where(pred)
      .select(col("word")).distinct(), cap)
    require(got.isDefined,
      s"more than $cap index terms match $what — narrow it or raise " +
        "the cap (resolved terms serve as a literal IN-list; an " +
        "unbounded match would collect the vocabulary)")
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      got.get.map(_.getString(0)).sorted)
  }

  /** BATCHED prefix serving — the batch-serving contract applied to
    * the multi-term family: a literal (query_id, prefix) batch
    * resolves off ONE dict scan (the prefixes broadcast into a
    * predicate join against the vocabulary — no per-query dict read,
    * no driver cap: the resolved pairs STAY DISTRIBUTED) and serves
    * through [[bm25TopKIndexedBatch]], whose own `localPairLimit`
    * gating decides the collect-vs-distributed route. Per query the
    * rows equal [[bm25TopKPrefix]]; a prefix matching no vocabulary
    * contributes zero rows (an ENTIRELY unmatched batch refuses like
    * the batch door's empty batch). */
  def bm25TopKPrefixBatch(s: org.apache.spark.sql.SparkSession,
      path: String, prefixes: Seq[(Long, String)], k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      asOf: Option[IndexSnapshot] = None,
      localPairLimit: Int = 262144): DataFrame = {
    require(prefixes.nonEmpty, "prefix batch must be non-empty")
    require(prefixes.forall(_._2.nonEmpty),
      "every prefix in the batch must be non-empty")
    require(prefixes.map(_._1).distinct.size == prefixes.size,
      "one prefix per query_id")
    val sess = s
    import sess.implicits._
    val q = prefixes.toDF("query_id", "prefix")
    val pairs = dictScan(s, path, asOf).select(col("word")).distinct()
      .join(broadcast(q), col("word").startsWith(col("prefix")))
      .select(col("query_id"), col("word"))
    bm25TopKIndexedBatch(s, path, pairs, k, k1Permille, bPermille,
      asOf, localPairLimit)
  }

  /** BM25 over every index term matching a prefix — the Lucene
    * MultiTermQuery rewrite: resolve the prefix against the term
    * dictionary ([[termsMatchingPrefix]], vocabulary-bounded, capped),
    * then score the resolved terms as a disjunction through the
    * standard indexed serve, each with its own document frequency.
    * Output is column-for-column [[bm25TopKIndexed]]; the postings
    * scan carries the same static (seg, tb) pruning, now over the
    * resolved terms' buckets. */
  def bm25TopKPrefix(s: org.apache.spark.sql.SparkSession,
      path: String, prefix: String, k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      cap: Int = 1024, asOf: Option[IndexSnapshot] = None): DataFrame =
    bm25TopKResolved(s, path,
      termsMatchingPrefix(s, path, prefix, cap, asOf),
      k, k1Permille, bPermille, asOf)

  /** [[bm25TopKPrefix]] for approximate term matching: score every
    * index term within `maxDist` edits of `term` as a disjunction
    * (each resolved term with its own df — a common typo variant
    * ranks by ITS document frequency, not the query spelling's). */
  def bm25TopKFuzzy(s: org.apache.spark.sql.SparkSession,
      path: String, term: String, maxDist: Int = 1, k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      cap: Int = 1024, asOf: Option[IndexSnapshot] = None): DataFrame =
    bm25TopKResolved(s, path,
      termsMatchingFuzzy(s, path, term, maxDist, cap, asOf),
      k, k1Permille, bPermille, asOf)

  /** [[bm25TopKPrefix]] for an arbitrary SQL LIKE pattern. */
  def bm25TopKLike(s: org.apache.spark.sql.SparkSession,
      path: String, pattern: String, k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      cap: Int = 1024, asOf: Option[IndexSnapshot] = None): DataFrame =
    bm25TopKResolved(s, path,
      termsMatchingLike(s, path, pattern, cap, asOf),
      k, k1Permille, bPermille, asOf)

  // a pattern matching NOTHING in the vocabulary serves an empty
  // top-k frame (the literal-terms door requires non-empty terms —
  // there a vacuous query is a caller bug; here it is a data outcome)
  private def bm25TopKResolved(s: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int, k1Permille: Long,
      bPermille: Long, asOf: Option[IndexSnapshot]): DataFrame =
    if (terms.nonEmpty)
      bm25TopKIndexed(s, path, terms, k, k1Permille, bPermille, asOf)
    else {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("dl", LongType),
          StructField("n_terms", LongType),
          StructField("score_q", LongType))))
    }

  /** Append a NEW batch of documents as one crash-atomic segment:
    * postings bucket under the STORED modulus, the batch's totals row
    * lands beside the prior segments' (collection stats accumulate by
    * segment sum). Both directories stage hidden and publish by
    * rename BEFORE the manifest commit — a crash at any point leaves
    * serving on the previous manifest, and the retry replaces the
    * unreferenced leftovers wholesale ([[graft.operators.EmbeddingOps
    * .appendSegment]]'s contract, widened to a two-directory
    * segment). Not registry-guarded: compose with an upstream dedup
    * gate for at-least-once feeds. */
  def bm25IndexAppend(docs: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = docs.sparkSession
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = EmbeddingOps.committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — build the index first")
    val segId = segs.max + 1
    // layout follows the STORED family config, never a caller flag —
    // a segment laid out differently would null-pad `ps` (or drop it)
    // across the committed chain
    val (postings, totals) = bm25SegFrames(docs, bm25Params(s, path),
      bm25Positional(s, path))
    def stage(dataDir: String, write: String => Unit): Unit = {
      val dir = new org.apache.hadoop.fs.Path(root, dataDir)
      val staged = new org.apache.hadoop.fs.Path(dir, s".seg-$segId.stage")
      val dest = new org.apache.hadoop.fs.Path(dir, s"seg=$segId")
      if (fs.exists(staged)) fs.delete(staged, true)
      if (fs.exists(dest)) fs.delete(dest, true)
      write(staged.toString)
      failpoint(s"staged-$dataDir")
      require(fs.rename(staged, dest),
        s"could not publish index segment $dest (staged at $staged)")
    }
    // the stamp rides the POSTINGS dir — the family's canonical data
    // dir, the one the ingest sink's replay check reads. The term
    // dictionary stages INSIDE the dir too, so dict and postings
    // publish in the same rename.
    stage("postings", p => {
      postings.repartition(col("tb"))
        .write.partitionBy("tb").mode("overwrite").parquet(p)
      writeTermDict(s, p)
      stamp(p)
    })
    stage("totals", p => totals.write.mode("overwrite").parquet(p))
    failpoint("segments-renamed")
    EmbeddingOps.commitGen(fs, metaDir, gen + 1, segs :+ segId)
  }

  /** Serve BM25 top-k for a literal term set from the persisted
    * index: the terms' bucket ids (bounded by |terms|) collect and
    * push as a literal IN beside the committed-segment filter, so the
    * postings scan carries STATIC partition filters on (seg, tb);
    * document frequencies come off the pruned+tombstone-masked
    * postings (df stays EXACT under deletion); the totals row sums
    * the per-segment frame (one row per segment — totals include
    * tombstoned docs' mass until [[bm25IndexCompact]] applies
    * deletions physically, the index family's standard drift
    * contract). Output is column-for-column [[bm25TopK]]. */
  /** The pruned live-postings read behind [[bm25TopKIndexed]],
    * exposed un-pinned so plan probes can assert the (seg, tb)
    * partition filters on the actual serve path: committed-segment
    * filter + the terms' bucket ids as a literal IN, exact term
    * filter within the bucket, tombstone anti-join. */
  private[graft] def bm25PostingsScan(
      s: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String],
      asOf: Option[IndexSnapshot] = None,
      withPositions: Boolean = false): DataFrame = {
    // pinned reads resolve to the retired tree when a swap replaced
    // the live one within the retention grace (snapshotRoot) — params
    // and data must come from the SAME resolved base
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val nBuckets = bm25Params(s, base)
    import s.implicits._
    // the terms are a driver-side literal list, so their bucket ids
    // compute DRIVER-SIDE ([[termBucket]] — the same Murmur3 the
    // writer bucketed with): the term frame is a local relation whose
    // broadcast builds without a job, and the bucket IN-list needs no
    // collect — the old pin job + bucket-collect job both vanish
    val tq = terms.toDF("word")
    val tbs = terms.map(termBucket(_, nBuckets)).distinct
    s.read.parquet(s"$base/postings")
      .where(EmbeddingOps.segFilter(s, base, asOf) &&
        col("tb").isin(tbs.map(Int.box): _*))
      .join(broadcast(tq), Seq("word"))
      .join(EmbeddingOps.tombstones(s, base, "doc_id", asOf),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id") +: col("word") +: col("tf") +: col("dl") +:
        (if (withPositions) Seq(col("ps")) else Seq.empty): _*)
  }

  def bm25TopKIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "query terms must be non-empty and distinct")
    val posts = bm25PostingsScan(s, path, terms, asOf)
      .pinned // df branch + scoring branch, one pruned scan
    bm25Rank(posts.join(bm25Df(posts), Seq("word"))
      .crossJoin(bm25Totals(s, path, asOf)),
      k, k1Permille, bPermille)
  }

  /** Exact phrase matching off the POSITIONAL BM25 index — the
    * classic positional-postings operation (Lucene match_phrase): for
    * a literal token phrase, every doc that contains the tokens
    * CONSECUTIVELY, with its exact occurrence count and first match
    * position. Output (doc_id, n_occ, first_pos).
    *
    * Scale shape: IO is the phrase terms' (seg, tb) buckets only —
    * the same static pruning as every BM25 serve; the candidate set
    * is the doc_id JOIN of the terms' posting lists (bounded by the
    * RAREST term's postings — the classic intersection bound);
    * adjacency is an O(tf) array filter per surviving row, so
    * positions never explode into rows; deletions mask through the
    * scan's tombstone anti-join. Requires a positional build
    * (`bm25IndexWrite(..., positional = true)`) and refuses loudly
    * otherwise — the flag is write-once family config in `params`. */
  def phraseOccurrencesIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, phrase: Seq[String],
      asOf: Option[IndexSnapshot] = None): DataFrame =
    phraseMatches(s, path, phrase, asOf)
      .select(col("doc_id"), col("n_occ"), col("first_pos"))

  /** The phrase-match frame with the doc length still attached —
    * shared by [[phraseOccurrencesIndexed]] and [[bm25PhraseTopK]]:
    * slot i's condition is exact adjacency (the i-th successor of an
    * anchor position is in slot i's list). */
  private def phraseMatches(s: org.apache.spark.sql.SparkSession,
      path: String, phrase: Seq[String],
      asOf: Option[IndexSnapshot]): DataFrame =
    positionalMatches(s, path, phrase,
      i => s"array_contains(ps$i, p + $i)", asOf)

  /** The shared positional serve core behind [[phraseMatches]] and
    * [[termsNearIndexed]]: intersect the slot terms' posting lists on
    * doc_id, then keep anchor positions (slot 0's list) satisfying
    * `condFor(i)` for every later slot i — an O(tf) array filter per
    * candidate row, so positions never explode into rows. Output
    * (doc_id, dl, n_occ, first_pos); `ps` arrays are sorted on write,
    * so the filtered anchor list stays sorted and element 1 is the
    * first match. */
  private def positionalMatches(s: org.apache.spark.sql.SparkSession,
      path: String, slotTerms: Seq[String], condFor: Int => String,
      asOf: Option[IndexSnapshot]): DataFrame = {
    require(slotTerms.nonEmpty && slotTerms.forall(_.nonEmpty),
      "positional query needs a non-empty sequence of non-empty tokens")
    // resolve once: the positional check and the postings scan must
    // see the SAME base (live root, or the retired tree within the
    // snapshot retention grace)
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    require(bm25Positional(s, base),
      s"index at $path stores no positions — positional serving " +
        "needs a positional build: bm25IndexWrite(..., positional = " +
        "true)")
    // one frame per SLOT (a repeated word reuses its posting row),
    // joined on doc_id: a doc survives only if it carries every
    // slot's term — the posting-list intersection, bounded by the
    // rarest term
    slotMatches(bm25PostingsScan(s, base, slotTerms.distinct, asOf,
      withPositions = true).pinned, slotTerms, condFor)
  }

  /** Proximity search off the positional index — the unordered
    * companion of [[phraseOccurrencesIndexed]] (Lucene's
    * span_near/slop family, with an exactly-replayable contract):
    * docs where EVERY query term occurs within `window` tokens of an
    * occurrence of the FIRST term. Anchors are the first term's
    * positions; an anchor counts when each other term has an
    * occurrence at absolute distance <= `window` from it. Output
    * (doc_id, n_anchors, first_pos) — the counting-anchor count and
    * the first counting anchor. Same scale shape as the phrase
    * serve: bucket-pruned IO, rarest-term-bounded intersection,
    * O(tf) per-row array work. */
  def termsNearIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], window: Int,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    require(terms.size >= 2 && terms.distinct.size == terms.size,
      "proximity search needs at least two distinct terms")
    require(window >= 1, s"window must be >= 1, got $window")
    positionalMatches(s, path, terms,
      i => s"exists(ps$i, q -> abs(q - p) <= $window)", asOf)
      .select(col("doc_id"), col("n_occ").as("n_anchors"),
        col("first_pos"))
  }

  /** Batched phrase matching — the batch-serving contract
    * ([[bm25TopKIndexedBatch]]) applied to the positional family: a
    * retrieval evaluation runs thousands of phrase queries, and
    * per-phrase serves would re-list and re-open the same segment
    * files per query, while the batch touches the index ONCE for the
    * union of every phrase's terms. `phrases` is a driver-side
    * literal batch (query-bounded by construction, like the terms of
    * every serve); each phrase's slot intersection and anchor filter
    * then ride the one pinned scan, and for every query_id the rows
    * equal `phraseOccurrencesIndexed(path, its phrase)` (the parity
    * the spec pins). Output (query_id, doc_id, n_occ, first_pos). */
  def phraseOccurrencesIndexedBatch(
      s: org.apache.spark.sql.SparkSession, path: String,
      phrases: Seq[(Long, Seq[String])],
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    require(phrases.nonEmpty, "phrase batch must be non-empty")
    require(phrases.map(_._1).distinct.size == phrases.size,
      "query_ids must be distinct")
    phrases.foreach { case (_, p) =>
      require(p.nonEmpty && p.forall(_.nonEmpty),
        "every phrase must be a non-empty sequence of non-empty tokens")
    }
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    require(bm25Positional(s, base),
      s"index at $path stores no positions — positional serving " +
        "needs a positional build: bm25IndexWrite(..., positional = " +
        "true)")
    val union = phrases.flatMap(_._2).distinct
    val posts = bm25PostingsScan(s, base, union, asOf,
      withPositions = true).pinned
    phrases.map { case (qid, phrase) =>
      slotMatches(posts, phrase, i => s"array_contains(ps$i, p + $i)")
        .select(lit(qid).as("query_id"), col("doc_id"), col("n_occ"),
          col("first_pos"))
    }.reduce(_ unionByName _)
  }

  /** The slot-intersection + anchor-filter core shared by every
    * positional serve: one frame per slot off the (already pruned and
    * pinned) postings, joined on doc_id, anchors kept where
    * `condFor(i)` holds for every later slot. Output (doc_id, dl,
    * n_occ, first_pos). */
  private def slotMatches(posts: DataFrame, slotTerms: Seq[String],
      condFor: Int => String): DataFrame = {
    val slots = slotTerms.zipWithIndex.map { case (w, i) =>
      posts.where(col("word") === w)
        .select(col("doc_id") +:
          (if (i == 0) Seq(col("dl"), col("ps").as("ps0"))
          else Seq(col("ps").as(s"ps$i"))): _*)
    }
    val joined = slots.reduce(_.join(_, Seq("doc_id")))
    val starts =
      if (slotTerms.size == 1) col("ps0")
      else expr("filter(ps0, p -> " +
        (1 until slotTerms.size).map(condFor).mkString(" AND ") + ")")
    joined.withColumn("starts", starts)
      .where(size(col("starts")) > 0)
      .select(col("doc_id"), col("dl"),
        size(col("starts")).cast("long").as("n_occ"),
        element_at(col("starts"), 1).cast("long").as("first_pos"))
  }

  /** Snippet extraction over phrase matches — the user-facing tail
    * of phrase retrieval: each matched doc with `ctx` tokens of
    * context around its FIRST occurrence. The index stores no text,
    * so the corpus frame rides in as an argument; the join is keyed
    * on doc_id with NO broadcast hint — the match frame is usually
    * top-k-small and the optimizer broadcasts it, but a mega-match
    * phrase (a stop-word bigram over the whole corpus) must degrade
    * to a shuffle join, never OOM the driver. The snippet is one
    * array slice per matched row (clamped at both document edges). */
  def phraseSnippetsIndexed(s: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, phrase: Seq[String],
      ctx: Int = 5, asOf: Option[IndexSnapshot] = None): DataFrame = {
    require(ctx >= 0, s"ctx must be >= 0, got $ctx")
    val k = phrase.size
    phraseOccurrencesIndexed(s, path, phrase, asOf)
      .join(corpus.select(col("doc_id"),
        split(col("text"), " ").as("w")), Seq("doc_id"))
      .select(col("doc_id"), col("n_occ"), col("first_pos"),
        expr(s"concat_ws(' ', slice(w, " +
          s"CAST(greatest(first_pos - $ctx, 0) + 1 AS INT), " +
          s"CAST(first_pos + ${k + ctx} - " +
          s"greatest(first_pos - $ctx, 0) AS INT)))").as("snippet"))
  }

  /** BM25-scored phrase ranking: the phrase scores as ONE pseudo-term
    * — tf = exact occurrence count ([[phraseOccurrencesIndexed]]),
    * df = matched-doc count, idf and saturation by the exact-integer
    * [[bm25ScoreCols]] arithmetic against the committed collection
    * totals — so phrase results rank on the same scale as term
    * results. Output is column-for-column [[bm25TopKIndexed]]
    * (n_terms is 1: the phrase is one scoring unit). The df frame is
    * one aggregate over the match frame (match-cardinality, the
    * scalar-frame exception) and broadcasts. */
  def bm25PhraseTopK(s: org.apache.spark.sql.SparkSession,
      path: String, phrase: Seq[String], k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    val m = phraseMatches(s, path, phrase, asOf).pinned
    val dfq = broadcast(m.agg(count(lit(1)).as("df")))
    bm25Rank(m.select(col("doc_id"), col("n_occ").as("tf"), col("dl"))
      .crossJoin(dfq)
      .crossJoin(bm25Totals(s, path, asOf)), k, k1Permille, bPermille)
  }

  /** Per-term document frequency off the pruned postings, with the
    * duplicate-postings tripwire. df is count(DISTINCT doc_id), not
    * count(rows): appending an already-indexed doc (the
    * [[bm25IndexAppend]] contract says route ingestion through a
    * dedup gate) would silently inflate a row-count df. The distinct
    * keeps df exact regardless — and since duplicated postings would
    * STILL corrupt ranking (the doc scores once per copy), a
    * row-count/distinct mismatch fails the serve loudly instead of
    * returning corrupt top-k. Both aggregates ride the
    * |terms|-bounded frame. */
  private def bm25Df(posts: DataFrame): DataFrame =
    broadcast(posts.groupBy(col("word"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("doc_id")).as("df"))
      .select(col("word"),
        when(col("n_rows") === col("df"), col("df"))
          .otherwise(raise_error(concat(
            lit("bm25 index corrupt: duplicate doc_ids in postings " +
              "for term "), col("word"),
            lit(" — an append bypassed the dedup gate")))).as("df")))

  /** The summed collection statistics (1 row), committed-segment or
    * snapshot-pinned. Cached per (base, epoch, EXACT segment set):
    * each segment's totals row is immutable, so the sum over a named
    * set is immutable even while appends land — an append changes
    * the segment list and thereby the key. The cached row re-emits as
    * a broadcast local relation: the per-serve scan+agg job vanishes. */
  private def bm25Totals(s: org.apache.spark.sql.SparkSession,
      path: String, asOf: Option[IndexSnapshot]): DataFrame = {
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    val segs = asOf match {
      case Some(snap) =>
        EmbeddingOps.requireSnapshotLive(fs, root, base, snap)
        snap.dataSegs
      case None => EmbeddingOps.committedSegs(fs,
        new org.apache.hadoop.fs.Path(root, "_segs"))._2
    }
    require(segs.nonEmpty,
      s"no index manifest at $base/_segs — not an index root")
    val totSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t_tok",
        org.apache.spark.sql.types.LongType)))
    val row = IndexMetaCache.cached(base, EmbeddingOps.epochOf(fs, root),
        "bm25_totals:" + segs.sorted.mkString(",")) {
      s.read.parquet(s"$base/totals")
        .where(col("seg").isin(segs.map(Int.box): _*))
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("t_tok")).cast("long").as("t_tok")).head
    }
    broadcast(s.createDataFrame(
      java.util.Arrays.asList(row), totSchema))
  }

  /** Batched multi-query BM25 serving: top-k per query for a WHOLE
    * query batch off ONE pruned postings scan — the index is touched
    * once for the UNION of all queries' terms, not once per query.
    * That is the batch-serving contract that matters at scale: a
    * retrieval evaluation (or an RRF hybrid arm — [[Hybrid]]) runs
    * thousands of queries, and per-query serves would re-list and
    * re-open the same segment files thousands of times, while the
    * union scan's IO is |touched buckets| regardless of batch size.
    *
    * `queries` is a (query_id, word) frame — bounded by the query
    * batch by construction, so it broadcasts. Scoring: the per-(doc,
    * word) idf/saturation arithmetic is query-independent
    * ([[bm25ScoreCols]]), computed once per posting row and fanned
    * out to queries by a broadcast word join; each query then
    * aggregates exactly the single-query sum, so for every query_id
    * the rows equal `bm25TopKIndexed(path, its terms, k)` (the parity
    * the spec pins). Duplicate (query_id, word) pairs are collapsed —
    * BM25 scores a term set, not a term bag.
    *
    * Driver-memory bound, stated loudly: the fast path collects the
    * deduped (query_id, word) pairs to the driver and re-emits them
    * as a LocalRelation (kills the pre-scan distinct job + checkpoint
    * a frame-side fan-out needed, and makes its broadcast free), so
    * driver memory scales with |batch| x terms-per-query — NOT with
    * the index. `localPairLimit` caps that: a batch whose deduped
    * pair count exceeds it takes the distributed route instead (the
    * fan-out joins the pair frame by shuffle; only the DISTINCT TERM
    * UNION — bounded by the vocabulary the batch touches, which the
    * postings prune needs on the driver regardless — is collected).
    * Same rows either way; the gate costs nothing extra (the probe
    * collect IS the fast path's collect when it fits). */
  def bm25TopKIndexedBatch(s: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      asOf: Option[IndexSnapshot] = None,
      localPairLimit: Int = 262144): DataFrame = {
    require(localPairLimit > 0, "localPairLimit must be positive")
    val qdf = queries.select(col("query_id"), col("word")).distinct()
    // one bounded probe decides the route: within the cap the
    // collect IS the complete pair set
    val probe = Route.bounded(qdf, localPairLimit)
    require(probe.forall(_.nonEmpty), "query batch has no terms")
    val (qw, qwBcast, terms) = probe match {
      case Some(rows) =>
        (s.createDataFrame(java.util.Arrays.asList(rows: _*),
          qdf.schema), true, rows.map(_.getString(1)).distinct.toSeq)
      case None =>
        // oversized batch: pairs stay distributed; the term union is
        // the only driver-side piece (the pruning IN-list needs it),
        // and it rides the CHECKPOINTED pair frame — recomputing the
        // distinct from the raw queries would run the largest shuffle
        // a third time
        val qp = qdf.pinned
        (qp, false,
          qp.select(col("word")).distinct().collect()
            .map(_.getString(0)).toSeq)
    }
    val posts = bm25PostingsScan(s, path, terms, asOf)
      .pinned // df branch + scoring branch, one pruned scan
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id").asc)
    bm25ScoreCols(posts.join(bm25Df(posts), Seq("word"))
        .crossJoin(bm25Totals(s, path, asOf)),
        k1Permille, bPermille)
      .join(if (qwBcast) broadcast(qw) else qw, Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_terms"),
        sum(col("idf_q") * col("sat_permille")).as("score_q"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("dl"), col("n_terms"), col("score_q"))
  }

  /** Consolidate all segments into one and apply tombstones
    * PHYSICALLY — and, unlike the generic [[graft.operators
    * .EmbeddingOps.ivfIndexCompact]] path, RECOMPUTE the totals from
    * the surviving postings (distinct (doc_id, dl) per doc), so the
    * post-compaction collection statistics are exact again after any
    * deletion history. Swap-atomic; the staged tree carries no
    * tombstones, so compaction clears them. */
  def bm25IndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    // resolved up front: a malformed conf refuses before any rewrite
    val timeout = Overlap.timeoutOf(s)
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = EmbeddingOps.committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    // same in-flight-ingest guard as the generic compaction path:
    // rewriting the newest segment would erase a replay stamp the
    // bound stream still needs (EmbeddingOps.requireIngestResolved)
    EmbeddingOps.requireIngestResolved(fs, root, path, "postings")
    // and the same orphan-tmp hygiene: the full door is the
    // single-writer turn (see EmbeddingOps.sweepOrphanTmps)
    EmbeddingOps.sweepOrphanTmps(fs, root)
    val (dg, dsegs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_dels"))
    val hasDels = dg >= 0 && dsegs.nonEmpty
    if (segs.size <= 1 && !hasDels) 0
    else {
      val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(root, "params"), fs,
        new org.apache.hadoop.fs.Path(tmp, "params"), false, false,
        s.sparkContext.hadoopConfiguration)
      val live = s.read.option("basePath", s"$path/postings")
        .parquet(segs.sorted.map(n => s"$path/postings/seg=$n"): _*)
        .drop("seg")
        .join(EmbeddingOps.tombstones(s, path, "doc_id"),
          Seq("doc_id"), "left_anti")
        .pinned // postings rewrite + totals recompute, one read
      // the totals recompute is independent of the postings/dict
      // rewrite (both read only the pinned `live`), so it runs on
      // its own driver thread and back-fills the rewrite's idle
      // slots (guide §2.6); the staged swap commits only after both
      // complete. The dictionary keeps regenerating from the
      // WRITTEN segment (a column-pruned read of `word` alone — at
      // scale that is cheaper than re-scanning the pinned full
      // rows), so a compaction still drops tombstoned docs' orphan
      // vocabulary.
      //
      // Threading discipline (NOT ExecutionContext.global): a
      // dedicated single-thread named pool, its own job group, and
      // BOTH outcomes joined before anything propagates — a rewrite
      // failure cancels the totals job group and still awaits it, so
      // no background write into the staged tree ever outlives (and
      // races the cleanup/retry of) the compaction attempt. The
      // rewrite's error wins when both fail; the await is the
      // Overlap hang backstop, never infinite.
      import scala.concurrent.{Await, Future}
      Overlap.withPool("graft-bm25-compact-totals", 1) { implicit ec =>
        val groupId =
          s"graft-bm25-totals-${java.util.UUID.randomUUID()}"
        val totalsF = Future {
          s.sparkContext.setJobGroup(groupId,
            "bm25 compaction: totals recompute",
            interruptOnCancel = true)
          try {
            live.select(col("doc_id"), col("dl")).distinct()
              .agg(count(lit(1)).as("n_docs"),
                sum(col("dl")).as("t_tok"))
              .write.mode("overwrite").parquet(s"$tmp/totals/seg=0")
          } finally s.sparkContext.clearJobGroup()
        }
        val rewriteErr =
          try {
            live.repartition(col("tb"))
              .write.partitionBy("tb").mode("overwrite")
              .parquet(s"$tmp/postings/seg=0")
            writeTermDict(s, s"$tmp/postings/seg=0")
            None
          } catch {
            case e: Throwable =>
              s.sparkContext.cancelJobGroup(groupId)
              Some(e)
          }
        val totalsErr =
          try { Await.result(totalsF, timeout); None }
          catch { case e: Throwable => Some(e) }
        rewriteErr.orElse(totalsErr).foreach(e => throw e)
      }
      EmbeddingOps.commitGen(fs,
        new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
      // expires + retires; fenced on the generations read above (a
      // mid-compaction append/delete must refuse, not vanish)
      EmbeddingOps.publishStaged(fs, root, tmp,
        fence = Seq("_segs" -> gen, "_dels" -> dg))
      segs.size
    }
  }

  // ---- persisted MinHash near-dup index (serve + append) ---------------

  /** One index row per indexable doc (>= 3 tokens, like every shingle
    * route): the doc's LSH band hashes (position-ordered, identical to
    * [[minhashBands]]' values) plus its distinct shingle-hash SET as
    * an 8-byte-surrogate array and the set size. Bands and sets ride
    * ONE row so candidate generation column-prunes to (doc_id,
    * band_hashes) while verification reads (doc_id, hs, n_h) — no
    * second dataset, no cross-dataset atomicity problem. The set
    * array's ELEMENT ORDER is nondeterministic (collect_set), but
    * serving consumes it only through size(array_intersect(..)) —
    * order-independent, so results are deterministic. */
  private def minhashIndexRows(docs: DataFrame): DataFrame = {
    val sets = shinglesRaw(docs)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("doc_id"), col("hs"),
        size(col("hs")).cast("long").as("n_h"))
    val bands = minhashBands(minhashSignature(docs))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("band_idx"), col("band_hash")))).as("bb"))
      .select(col("doc_id"),
        expr("transform(bb, x -> x.band_hash)").as("band_hashes"))
    sets.join(bands, Seq("doc_id"))
  }

  /** Per-bucket statistics of ONE index segment's rows: (band_idx,
    * band_hash, bn = member count, hub = min doc_id). Written next to
    * each segment as a `_bstats` sidecar (underscore-hidden, so the
    * docs read never discovers it) and merged at serve time — bn sums
    * and hub mins across segments, so the merged values equal a
    * window over all committed rows by construction. */
  private def minhashBandStats(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"),
        posexplode(col("band_hashes")).as(Seq("band_idx", "band_hash")))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("hub"))

  /** Merged per-bucket statistics of a persisted MinHash index — the
    * serving view of the `_bstats` sidecars (bn sums, hub mins across
    * committed segments), doubling as the index's bucket-balance
    * monitoring card (the [[graft.operators.EmbeddingOps
    * .indexCellStats]] analog: bucket skew is what drives the volume
    * cap). Output (band_idx, band_hash, bn, hub), bucket-cardinality. */
  def minhashIndexStats(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val (gen, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    s.read.parquet(segs.map(k => s"$path/docs/seg=$k/_bstats"): _*)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sum(col("bn")).as("bn"), min(col("hub")).as("hub"))
  }

  /** The `_posts` posting sidecar's read schema — explicit (no
    * inference jobs; an empty sidecar reads as the empty frame) and
    * SHARED by every reader so the stats card and the serving doors
    * can never drift apart. */
  private val PostsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, n_h BIGINT, h BIGINT, pb BIGINT")

  /** Posting-bucket modulus of the `_posts` exact-serving sidecar:
    * pb = pmod(h, 64). Pure code like the band construction (not
    * caller configuration), so every exact segment is
    * layout-compatible with every other by construction — and
    * PERSISTED per segment (`_posts/_pb`, verified on every layout
    * probe) so a future change to this constant refuses loudly on
    * old roots instead of silently mispruning their posting
    * partitions. */
  private[graft] val ExactPb = 64L

  /** Posting-bucket balance report of an EXACT MinHash root — the
    * `_posts` sidecar's monitoring card ([[minhashIndexStats]] /
    * [[graft.operators.EmbeddingOps.indexCellStats]] analog for the
    * exact-serving route), and the observability that says when
    * [[nearDupServeExact]]'s candidate volume is about to blow up: a
    * batch prefix digest pulls its FULL posting list, so `hot_df`
    * (the largest single-digest posting list in the bucket) is
    * exactly the worst-case candidate fan-out ONE prefix digest can
    * cause — a stop-shingle surfaces as a hot_df outlier long before
    * a serve trips the localPairLimit fallback. Tombstone-aware:
    * masked docs' postings are excluded, exactly as serving excludes
    * their pairs, so the report prices the candidates a serve can
    * actually generate. One row per committed (seg, pb) posting
    * bucket: (seg, pb, n_posts, n_digests, hot_h, hot_df, n_total,
    * n_buckets, balance_permille) — balance_permille = n_posts *
    * n_buckets * 1000 div n_total, integer-exact, 1000 = perfectly
    * even. Ties on hot_df break toward the larger digest
    * (deterministic). Scale shape: one pass over the postings into a
    * map-side-combinable (seg, pb, h) count, re-aggregated to
    * bucket cardinality; the totals row is bucket-bounded and
    * broadcast. */
  def minhashExactStats(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val (gen, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    require(minhashExactOf(fs, path, segs),
      s"index at $path carries no _posts posting sidecars — the " +
        "posting-balance report describes exact roots (build with " +
        "minhashIndexWrite(..., exact = true); minhashIndexStats " +
        "reports the banded layout)")
    val posts = segs.sorted
      .map(k => s.read.schema(PostsSchema)
        .parquet(s"$path/docs/seg=$k/_posts")
        .withColumn("seg", lit(k)))
      .reduce(_ unionByName _)
      .join(EmbeddingOps.tombstones(s, path, "doc_id"),
        Seq("doc_id"), "left_anti")
    val perBucket = posts
      .groupBy(col("seg"), col("pb"), col("h"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("seg"), col("pb"))
      .agg(sum(col("df")).as("n_posts"),
        count(lit(1)).as("n_digests"),
        max(struct(col("df"), col("h"))).as("hot"))
      .select(col("seg"), col("pb"), col("n_posts"), col("n_digests"),
        col("hot.h").as("hot_h"), col("hot.df").as("hot_df"))
      .pinned // bucket rows + their totals, one aggregation
    perBucket
      .crossJoin(broadcast(perBucket.agg(
        sum(col("n_posts")).as("n_total"),
        count(lit(1)).as("n_buckets"))))
      .select(col("seg"), col("pb"), col("n_posts"), col("n_digests"),
        col("hot_h"), col("hot_df"), col("n_total"), col("n_buckets"),
        // exact AND overflow-proof: n_posts * n_buckets * 1000 can
        // exceed Long for a pathological bucket, and non-ANSI mode
        // would wrap silently — widen to DECIMAL(38,0) for the
        // product (the Route.bounded lesson). Integral `div`, not
        // floor(/): decimal division ROUNDS at the capped result
        // scale, so floor over it goes off by one when the true
        // fraction sits within half an ulp of an integer from below
        // (reachable once n_total >= 2M); `div` divides exactly.
        expr("CAST(n_posts AS DECIMAL(38,0)) * n_buckets * 1000" +
          " div n_total")
          .as("balance_permille"))
  }

  /** The segment sidecars, regenerated from the segment's rows AS
    * WRITTEN (read back from the staged/compacted files, so they can
    * never drift from the data they describe): the `_bstats`
    * per-bucket stats always, and — for EXACT roots — the `_posts`
    * inverted digest postings ((h, doc_id, n_h) partitioned by
    * pb = pmod(h, [[ExactPb]]), the [[nearDupServeExact]] read path).
    * Underscore-named, so the docs scan never discovers either. */
  private def writeMinhashSidecars(s: org.apache.spark.sql.SparkSession,
      segDir: String, exact: Boolean): Unit = {
    val written = s.read.parquet(segDir)
    minhashBandStats(written.select(col("doc_id"), col("band_hashes")))
      .write.mode("overwrite").parquet(s"$segDir/_bstats")
    if (exact) {
      written.select(col("doc_id"), col("n_h"),
          explode(col("hs")).as("h"))
        .withColumn("pb", pmod(col("h"), lit(ExactPb)))
        .repartition(col("pb"))
        .write.partitionBy("pb").mode("overwrite")
        .parquet(s"$segDir/_posts")
      // the modulus is LAYOUT (the bm25 bucket-modulus rule): record
      // it IN the sidecar so a future change to ExactPb can never
      // silently misprune (seg, pb) posting partitions written under
      // the old value — [[minhashExactOf]] verifies it on every probe
      // and refuses loudly on mismatch, like every other layout
      // mismatch in the family. Underscore-named, hidden from the
      // posting read; rides the segment/staging renames wholesale.
      val (fs, _) = EmbeddingOps.fsFor(s, segDir)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$segDir/_posts/_pb"), true)
      try out.write(ExactPb.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Whether a MinHash root serves EXACT lookups: every committed
    * segment carries a `_posts` posting sidecar. Self-describing —
    * no params table, the family doctrine (and what keeps
    * [[minhashIndexMerge]]'s zero-job contract: the probe is
    * fs.exists, driver metadata only). A mixed chain refuses loudly:
    * it can only arise from a maintenance-door bug or a manual copy,
    * and serving it would silently miss the postings-less segments'
    * docs — the exact contract's one unforgivable failure. */
  private def minhashExactOf(fs: org.apache.hadoop.fs.FileSystem,
      base: String, segs: Seq[Int]): Boolean = {
    val flags = segs.map(k => k -> fs.exists(
      new org.apache.hadoop.fs.Path(s"$base/docs/seg=$k/_posts")))
    require(flags.map(_._2).distinct.size <= 1,
      s"mixed exact/non-exact segment chain at $base: segments " +
        flags.collect { case (k, true) => k }.mkString("{", ",", "}") +
        " carry _posts, segments " +
        flags.collect { case (k, false) => k }.mkString("{", ",", "}") +
        " do not — exact serving would silently miss the latter. " +
        "Run minhashIndexCompact: the full rewrite regenerates one " +
        "uniform (exact) layout from the live rows and heals the " +
        "chain.")
    val exact = flags.headOption.exists(_._2)
    // the persisted posting-bucket modulus must match the one this
    // build compiles into reader and writer: a mismatch would
    // silently misprune (seg, pb) posting partitions and break the
    // exact route's unconditional-recall guarantee — refuse loudly
    // instead, like every other layout mismatch. A pre-marker segment
    // carries the only modulus ever written (64); compaction
    // regenerates the layout under the current value and heals.
    if (exact) segs.foreach { k =>
      val pb = EmbeddingOps.readLongMarker(fs,
        new org.apache.hadoop.fs.Path(s"$base/docs/seg=$k/_posts/_pb"))
        .getOrElse(64L)
      require(pb == ExactPb,
        s"posting-bucket modulus mismatch at $base: segment seg=$k " +
          s"was written with pb=$pb, this build serves pb=$ExactPb — " +
          "exact serving would misprune posting partitions. Run " +
          "minhashIndexCompact to regenerate the layout under the " +
          "current modulus.")
    }
    exact
  }

  /** Stage one segment: the index rows, plus the sidecars computed
    * from the rows AS WRITTEN. All land inside the staged segment
    * dir — the segment's publish rename commits them together,
    * keeping appends crash-atomic. */
  private def writeSegWithStats(s: org.apache.spark.sql.SparkSession,
      rows: DataFrame, segDir: String, exact: Boolean): Unit = {
    rows.write.mode("overwrite").parquet(segDir)
    writeMinhashSidecars(s, segDir, exact)
  }

  /** Build a PERSISTED MinHash near-dup index at `path` — the text
    * twin of [[graft.operators.EmbeddingOps.ivfIndexWrite]]'s
    * offline-build/online-serve split, and the missing incremental
    * half of [[nearDupMinhash]]: a 100 TB corpus is deduped ONCE, then
    * every ingest batch asks "is this new doc a near-dup of anything
    * already kept?" without touching the corpus again. Layout:
    * `docs/seg=N` row segments (each carrying a `_bstats` per-bucket
    * stat sidecar — see [[minhashBandStats]]) under a `_segs/gen-K`
    * manifest (the crash-atomic segment protocol; rebuilds stage a
    * hidden sibling and swap). No `_params` sidecar: the signature
    * construction (3-token shingles, 16 hashes, 4 bands) is pure code
    * shared with every other minhash route, not caller configuration —
    * the index is self-describing the way the IVF index's stored
    * centroids are. `exact = true` additionally writes the `_posts`
    * inverted digest postings beside each segment (opt-in — roughly
    * doubles the index footprint) and unlocks [[nearDupServeExact]];
    * the layout is write-once by self-description: appends and
    * compactions probe the committed chain and comply
    * ([[minhashExactOf]]). */
  def minhashIndexWrite(docs: DataFrame, path: String,
      exact: Boolean = false): Unit = {
    val s = docs.sparkSession
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    Warehouse.recoverSwap(fs, root)
    val tmp = Warehouse.hiddenSibling(root, ".index-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writeSegWithStats(s, minhashIndexRows(docs), s"$tmp/docs/seg=0",
      exact)
    EmbeddingOps.commitGen(fs,
      new org.apache.hadoop.fs.Path(tmp, "_segs"), 0, Seq(0))
    EmbeddingOps.publishStaged(fs, root, tmp) // expires + retires
  }

  /** Append a new batch of docs to a persisted MinHash index: one new
    * segment (rows + its `_bstats` sidecar, O(batch) both), O(batch)
    * IO, CRASH-ATOMIC via the segment protocol (a kill anywhere leaves
    * serving unchanged; the retry completes).
    * Caller contract mirrors ivfIndexAppend: doc_ids must be new
    * (route ingestion through a registry when mutation protection
    * matters), one appender at a time. */
  def minhashIndexAppend(docs: DataFrame, path: String,
      failpoint: String => Unit = _ => (),
      stamp: String => Unit = _ => ()): Unit = {
    val s = docs.sparkSession
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    EmbeddingOps.appendSegment(s, path, "docs",
      staged => {
        // the appended segment complies with the committed chain's
        // layout (plain or exact) — self-described by the _posts
        // probe, read INSIDE the staged write so it sees the same
        // manifest appendSegment just read: a full compaction healing
        // or changing the layout before this point is picked up here
        // rather than landing a mismatched segment. The residual
        // window (a swap between this write and appendSegment's
        // manifest commit) fails LOUDLY, not wrong: the swap retires
        // the tree the staged dir lives in, so the publish rename or
        // the commit CAS aborts — a single-writer-contract violation
        // surfaces as an error, never as a mixed chain.
        val (_, segs) = EmbeddingOps.committedSegs(fs,
          new org.apache.hadoop.fs.Path(root, "_segs"))
        val exact = minhashExactOf(fs, path, segs)
        writeSegWithStats(s, minhashIndexRows(docs), staged, exact)
      },
      failpoint, stamp)
  }

  /** Merge independently-built MinHash index roots into one serving
    * root — [[graft.operators.EmbeddingOps.mergeRoots]] for the
    * near-dup family: shard-parallel `minhashIndexWrite` builds (one
    * per corpus partition, no writer contention) stitch into a single
    * root by manifest surgery, zero data rewrite, zero shuffle. The
    * signature construction is pure shared code (no params sidecar),
    * so any two minhash roots are layout-compatible; segments carry
    * their `_bstats` sidecars inside the renamed directories, and the
    * merged serve's stat merge sums per-segment stats exactly as an
    * appended chain's would. CONSUMES the sources; doc_id domains
    * must be disjoint across them (the shard-build contract). */
  def minhashIndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    EmbeddingOps.mergeRoots(s, sources, dest, Seq("docs"), Seq.empty,
      validate = bases => {
        // exactness is LAYOUT (the bm25 positional rule): a mixed
        // merge would leave exact serving silently missing the
        // plain shards' docs. The probe is fs.exists only, so the
        // merge's zero-job contract holds for plain AND exact roots.
        val flags = bases.map { b =>
          val (bfs, broot) = EmbeddingOps.fsFor(s, b)
          val (_, ss) = EmbeddingOps.committedSegs(bfs,
            new org.apache.hadoop.fs.Path(broot, "_segs"))
          minhashExactOf(bfs, b, ss)
        }
        require(flags.distinct.size == 1,
          "exact (_posts) layout differs across merge sources: " +
            bases.zip(flags).map { case (b, f) => s"$b=$f" }
              .mkString(", ") +
            " — rebuild the odd shards with the common layout")
      },
      failpoint = failpoint)

  /** Merge independently-built BM25 index roots into one serving
    * root: shard-parallel `bm25IndexWrite` builds stitch by manifest
    * surgery — postings segments AND their per-segment totals rows
    * move together under one renumbering (both are keyed by the same
    * `_segs` manifest), so the merged collection statistics are the
    * segment sums exactly as an appended chain's would be. Sources
    * must share the write-once bucket modulus (validated; the term
    * buckets are content-keyed, so equal moduli make the directory
    * layouts unionable). CONSUMES the sources; doc_id domains must be
    * disjoint across them. */
  def bm25IndexMerge(s: org.apache.spark.sql.SparkSession,
      sources: Seq[String], dest: String,
      failpoint: String => Unit = _ => ()): Unit =
    EmbeddingOps.mergeRoots(s, sources, dest,
      Seq("postings", "totals"), Seq("params"),
      validate = bases => {
        EmbeddingOps.requireSameBucketModuli(s, bases)
        // the positional flag is layout too: a mixed merge would
        // null-pad `ps` across shard segments and phrase serving
        // would silently miss the non-positional shards' docs
        val flags = bases.map(b => bm25Positional(s, b))
        require(flags.distinct.size == 1,
          s"positional flag differs across merge sources: " +
            bases.zip(flags).map { case (b, f) => s"$b=$f" }
              .mkString(", ") +
            " — rebuild the odd shards with the common layout")
      },
      failpoint = failpoint)

  /** Serve near-dup lookups from a persisted MinHash index: for a NEW
    * batch of docs, every (indexed doc, batch doc) pair whose exact
    * Jaccard (over distinct shingle-hash sets) reaches `threshold`,
    * with candidates bounded by LSH band collisions exactly as in
    * [[nearDupMinhash]]. Output (doc_a = indexed, doc_b = batch,
    * n_common, na, nb, jaccard).
    *
    * Scale shape: the batch side (bands AND sets) is broadcast —
    * bounded by the ingest batch, never the index. The index is read
    * twice with static committed-segment pruning, both passes
    * column-pruned: a SLIM pass (doc_id + band hashes) generates
    * candidates under the stored-bucket volume cap (oversized buckets
    * answer through their hub — see the inline note), and the full
    * pass verifies, filtered by the BROADCAST bounded candidate set.
    * The bucket stats (bn/hub) come from each segment's persisted
    * `_bstats` sidecar — merged for batch-touched buckets only and
    * broadcast — so the stored rows NEVER shuffle: the slim pass is a
    * scan feeding two broadcast joins, and the only exchanges in the
    * whole serve are bounded (touched-bucket sidecar rows into the
    * stat merge, candidate pairs into the dedup). The `hs` arrays
    * never leave their scan partition. Batch doc_ids are assumed
    * disjoint from indexed ones (the append contract). A pinned serve
    * racing a concurrent swap dies on the moved files — wrap the
    * ACTION in [[graft.operators.EmbeddingOps.withSnapshotRetry]] to
    * absorb exactly one swap (re-resolves to the retired tree). */
  def nearDupServe(s: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, threshold: Double = 0.7,
      bucketCap: Int = BucketCap,
      asOf: Option[IndexSnapshot] = None): DataFrame = {
    // data rows, stat sidecars, and tombstones all read from the ONE
    // resolved base — live root, or the retired tree within the
    // snapshot retention grace ([[EmbeddingOps.snapshotRoot]])
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val stored = s.read.parquet(s"$base/docs")
      .where(EmbeddingOps.segFilter(s, base, asOf)).drop("seg")
    val nb = minhashIndexRows(batch).pinned
    // candidate generation runs over SLIM rows (doc_id + band hashes —
    // the scan column-prunes away the shingle sets), with the
    // [[cappedBandPairs]] volume bound applied to the STORED buckets:
    // an indexed template-spam cluster puts B signatures in one bucket
    // in every band, and an uncapped serve would fan every matching
    // batch doc out to all B of them — the capped serve compares the
    // batch doc against the bucket's min-doc hub instead (the cluster
    // representative answers "is this a near-dup of something kept").
    // Candidates are therefore bounded by |batch| * nBands * bucketCap
    // BY CONSTRUCTION, which is what makes them broadcastable below.
    val bbIds = nb.select(col("doc_id").as("doc_b"),
      posexplode(col("band_hashes")).as(Seq("band_idx", "band_hash")))
    val batchKeys = bbIds.select(col("band_idx"), col("band_hash"))
      .distinct()
    // bn/hub per bucket come from the segments' persisted `_bstats`
    // sidecars (written with each segment, regenerated by compaction),
    // NOT a window over the stored band rows: per-segment stats merge
    // by sum/min, which equals the window over all committed rows by
    // construction. Only batch-touched buckets merge (semi-join
    // against the broadcast batch keys before the aggregate), so the
    // stat exchange is O(touched buckets x segments) — and the stored
    // band rows themselves never ride ANY exchange: the filter below
    // is a broadcast join against the merged stats.
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    // asOf pins the segment list (data rows above via segFilter, stat
    // sidecars here, tombstones below) to the snapshot's view — the
    // epoch guard inside segFilter/tombstones refuses post-compaction
    val segs = asOf match {
      case Some(snap) => snap.dataSegs
      case None => EmbeddingOps.committedSegs(fs,
        new org.apache.hadoop.fs.Path(root, "_segs"))._2
    }
    val statDirs = segs.map(k => s"$base/docs/seg=$k/_bstats")
    statDirs.foreach { d =>
      require(fs.exists(new org.apache.hadoop.fs.Path(d)),
        s"no _bstats sidecar at $d — the index predates the stat " +
          "sidecar; rebuild or compact it with this version first")
    }
    val touched = s.read.parquet(statDirs: _*)
      .join(broadcast(batchKeys), Seq("band_idx", "band_hash"),
        "left_semi")
    // single-segment indexes (every index after a compaction — the
    // steady state) skip the merge: the segment's stats ARE the
    // totals, so the serve plans ZERO aggregation exchanges
    val stats =
      (if (segs.size == 1) touched
      else touched
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(sum(col("bn")).as("bn"), min(col("hub")).as("hub")))
        .pinned // dead-hub probe + capped filter, one stat merge
    val tomb = EmbeddingOps.tombstones(s, base, "doc_id", asOf)
    val sbAll = stored.select(col("doc_id").as("doc_a"),
      posexplode(col("band_hashes")).as(Seq("band_idx", "band_hash")))
    // an OVERSIZED bucket answers exclusively through its hub — if
    // that hub has been tombstoned, the final anti-join below would
    // erase every pair it generated and the whole bucket would
    // silently answer NOTHING until compaction (near-dups of a live
    // template-spam cluster re-admitted). Re-hub those buckets at
    // serve time to the smallest LIVE doc_id. The dead-hub probe
    // COLLECTS first (it is a subset of the touched-bucket stats the
    // serve already broadcasts, so the bound is the broadcast bound):
    // in the steady state — no tombstoned hubs, which is every serve
    // outside a delete-of-hub-to-compaction window — the collect is a
    // sidecar-sized job and the plan gains NOTHING, in particular no
    // second scan of the stored band rows. Only when dead hubs exist
    // does the re-hub scan run, semi-filtered to those buckets.
    val deadHubDf = stats
      .join(tomb.withColumnRenamed("doc_id", "hub"), Seq("hub"),
        "left_semi")
      .select(col("band_idx"), col("band_hash"))
    val deadHubKeys = deadHubDf.collect()
    val statsLive = if (deadHubKeys.isEmpty) stats else {
      val deadHub = s.createDataFrame(
        java.util.Arrays.asList(deadHubKeys: _*), deadHubDf.schema)
      val rehub = sbAll
        .join(broadcast(deadHub), Seq("band_idx", "band_hash"),
          "left_semi")
        .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
          "left_anti")
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(min(col("doc_a")).as("live_hub"))
      // fully-tombstoned bucket: live_hub is absent and the dead hub
      // stays — its pairs die at the final anti-join, correctly
      stats.join(rehub, Seq("band_idx", "band_hash"), "left")
        .withColumn("hub", coalesce(col("live_hub"), col("hub")))
        .drop("live_hub")
    }
    val sbCapped = sbAll
      .join(broadcast(statsLive), Seq("band_idx", "band_hash"))
      .where(col("bn") <= bucketCap || col("doc_a") === col("hub"))
    val cand = sbCapped
      .join(broadcast(bbIds), Seq("band_idx", "band_hash"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verification: one more pass over the index, filtered in a
    // broadcast-hash join by the bounded candidate set — each pair's
    // stats compute exactly once (no per-band duplicate dedup needed)
    val scored = stored.select(col("doc_id").as("doc_a"),
        col("hs").as("hs_a"), col("n_h").as("na"))
      .join(broadcast(cand), Seq("doc_a"))
      .join(broadcast(nb.select(col("doc_id").as("doc_b"),
        col("hs").as("hs_b"), col("n_h").as("nb"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("n_common"),
        col("na"), col("nb"))
    scored
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      // tombstones mask at the CANDIDATE stage, not the index scan: an
      // anti-join against the thresholded pair rows shuffles
      // duplication-mass-sized stats, where masking the scan itself
      // would shuffle the whole index (hs arrays and all) through a
      // doc_id-keyed join
      .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
        "left_anti")
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"),
        col("nb"), col("jaccard"))
  }

  /** Serve EXACT near-dup lookups from a persisted MinHash index
    * built with `exact = true`: for a NEW batch of docs, EVERY
    * (indexed doc, batch doc) pair whose exact Jaccard over distinct
    * shingle-hash sets reaches `threshold` — recall-GUARANTEED, where
    * [[nearDupServe]]'s banded candidates are the capped heuristic (a
    * pair colliding in no band bucket, or capped out of an oversized
    * one, is invisible there; here it cannot be missed). Output
    * matches nearDupServe: (doc_a = indexed, doc_b = batch, n_common,
    * na, nb, jaccard). The exact sibling of the minhash serve split —
    * per-crawl decontamination and dedup-against-the-kept-corpus with
    * a machine-checkable completeness story.
    *
    * Candidates come from the stored `_posts` posting sidecars via
    * the single-side prefix pigeonhole (the [[graft.operators.TextOps
    * .containmentPairs]] argument, batch side): a qualifying pair has
    * n_common >= ceil(t‰·nb), the batch doc keeps its
    * nb - ceil(t‰·nb) + 1 smallest digests, and only ceil(t‰·nb) - 1
    * fall outside — fewer than the required overlap, so every
    * qualifying stored doc shares a KEPT digest with the batch doc.
    * The subset-SIZE argument needs no shared order (no
    * stored-frequency lookup on the serve path; ranking by stored df
    * is a candidate-volume upgrade, not a correctness need). IO is
    * the prefix digests' (seg, pb) posting buckets only — static
    * partition pruning, the bm25 term-bucket discipline — plus one
    * candidate-filtered pass over the stored rows. The Jaccard size
    * filter prunes cross-size pairs at the candidate join.
    *
    * Scale shape, stated honestly: on the steady-state route the
    * stored side NEVER rides an exchange — the batch prefix
    * broadcasts into the posting scan (batch-bounded, the
    * [[nearDupServe]] bbIds discipline), and the verification pass
    * scans the stored rows filtered by the BROADCAST candidate set,
    * so the only shuffles are batch- and pair-sized (prefix ranking,
    * candidate dedup, tombstone mask). The candidate set is
    * ANSWER-sized, not construction-bounded — the steady state is
    * the true pairs plus prefix false positives, but one
    * stop-shingle in a batch prefix can pull its full posting list —
    * so the broadcast is GUARDED by the [[bm25TopKIndexedBatch]]
    * `localPairLimit` discipline: a limit(N+1) probe decides the
    * route in one job. Candidates within the cap collect and re-emit
    * as a LocalRelation (the broadcast builds driver-side, bounded
    * by the cap by construction); past it they stay distributed and
    * the verification joins them BY KEY — the stored rows ride one
    * doc_id exchange on that route, the honest price of exactness
    * when the answer itself outgrew the driver (same rows either
    * way; [[nearDupServe]] remains the capped tool when even that is
    * too much). Precision shares the
    * family's xxhash64 surrogate caveat (a collision only ADDS
    * intersection mass — false-positive-only, 2^-64 scale,
    * machine-checked by the brute-force oracle at gate scales);
    * recall is unconditional. Tombstones mask at the pair stage;
    * `asOf` pins segments, sidecars, and tombstones exactly like
    * nearDupServe. */
  def nearDupServeExact(s: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, threshold: Double = 0.7,
      asOf: Option[IndexSnapshot] = None,
      localPairLimit: Int = 262144): DataFrame = {
    val (candAll, batchSets, base) =
      exactServeCandidates(s, path, batch, threshold, asOf)
    // probe-then-fallback on the ANSWER-sized candidate set — see
    // [[candidateRoute]]: within the cap the candidates broadcast as
    // a LocalRelation, past it the verification joins them by key.
    exactVerify(s, base, asOf,
      candidateRoute(s, candAll, localPairLimit), batchSets)
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"),
        col("nb"), col("jaccard"))
  }

  /** Serve EXACT containment lookups from a persisted exact MinHash
    * index: for a NEW batch of docs, every (stored container, batch
    * contained) pair with |B∩A| / |B| >= `threshold` — the
    * DECONTAMINATION shape served INCREMENTALLY. Index the benchmark
    * (or the licensed-content list, or the previous crawl) ONCE with
    * `minhashIndexWrite(..., exact = true)`, then screen every new
    * batch against it without touching the benchmark corpus again —
    * the serving twin of [[graft.operators.TextOps.containmentJoin]]
    * exactly as [[nearDupServeExact]] is the serving twin of
    * [[allPairsJoin]]. Recall is unconditional by the same
    * single-side prefix pigeonhole (a qualifying pair has
    * n_common >= ceil(t‰·nb), so the batch doc's kept prefix must
    * intersect it); the size filter prunes only the LOWER side
    * (na >= t‰·nb — a container smaller than the required overlap
    * cannot qualify; its size has NO ceiling, which is what makes
    * containment catch a doc quoted inside one 10x its size where
    * Jaccard goes blind). Output (doc_a = stored container, doc_b =
    * batch contained, n_common, na, nb, containment); same candidate
    * route guard, tombstone mask, asOf pinning, and xxhash64
    * false-positive-only caveat as nearDupServeExact. */
  def containmentServeExact(s: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, threshold: Double = 0.9,
      asOf: Option[IndexSnapshot] = None,
      localPairLimit: Int = 262144): DataFrame = {
    val (candAll, batchSets, base) =
      exactServeCandidates(s, path, batch, threshold, asOf,
        jaccard = false)
    exactVerify(s, base, asOf,
      candidateRoute(s, candAll, localPairLimit), batchSets)
      .withColumn("containment", col("n_common").cast("double") /
        col("nb").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"),
        col("nb"), col("containment"))
  }

  /** The exact doors' shared verification pass: one candidate-
    * filtered scan of the stored rows joined to the broadcast batch
    * sets, producing the exact intersection statistics the measure
    * thresholds over — (doc_a, doc_b, n_common, na, nb), tombstones
    * masked at the pair stage. */
  private def exactVerify(s: org.apache.spark.sql.SparkSession,
      base: String, asOf: Option[IndexSnapshot],
      cand: DataFrame, batchSets: DataFrame): DataFrame = {
    val stored = s.read.parquet(s"$base/docs")
      .where(EmbeddingOps.segFilter(s, base, asOf)).drop("seg")
    val tomb = EmbeddingOps.tombstones(s, base, "doc_id", asOf)
    stored.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_h").as("na"))
      .join(cand, Seq("doc_a"))
      .join(broadcast(batchSets), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("n_common"),
        col("na"), col("nb"))
      .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
        "left_anti")
  }

  /** The exact serve's candidate construction, shared verbatim by
    * [[nearDupServeExact]]'s probe and the scale probe's plan walk
    * (the probe collapses these operators out of the RETURNED plan,
    * so the pb-pruning/broadcast assertions must walk the frame the
    * probe executes — this one). Returns (candidate pairs BEFORE the
    * route decision, the batch verification sets, the resolved
    * base). */
  private[graft] def exactServeCandidates(
      s: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, threshold: Double,
      asOf: Option[IndexSnapshot], jaccard: Boolean = true)
      : (DataFrame, DataFrame, String) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = math.floor(threshold * 1000).toLong.max(1L)
    val base = EmbeddingOps.snapshotRoot(s, path, asOf)
    val (fs, root) = EmbeddingOps.fsFor(s, base)
    val segs = asOf match {
      case Some(snap) => snap.dataSegs
      case None => EmbeddingOps.committedSegs(fs,
        new org.apache.hadoop.fs.Path(root, "_segs"))._2
    }
    require(segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    require(minhashExactOf(fs, base, segs),
      s"index at $path carries no _posts posting sidecars — build " +
        "it with minhashIndexWrite(..., exact = true) for exact " +
        "serving (the banded nearDupServe serves plain roots)")
    val nb0 = shinglesRaw(batch)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .distinct()
      .pinned // prefix, buckets, and verification sets — one frame
    val szb = nb0.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
    val pref = nb0
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("h"))))
      .join(szb, Seq("doc_id"))
      .where(col("rn") <= expr(s"nb - ((nb * $t + 999) div 1000) + 1"))
      .select(col("h"), col("doc_id").as("doc_b"), col("nb"))
    // static (seg, pb) pruning: the prefix digests' bucket ids
    // collect (bounded by ExactPb) and the posting read lists only
    // those partitions of the committed segments. The schema is
    // explicit: no inference jobs, and a segment whose batch had no
    // indexable docs wrote an EMPTY _posts (no partition dirs to
    // infer from) — it must read as the empty frame, not refuse.
    val pbs = pref.select(pmod(col("h"), lit(ExactPb)).as("pb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val posts = segs
      .map(k => s.read.schema(PostsSchema)
        .parquet(s"$base/docs/seg=$k/_posts"))
      .reduce(_ unionByName _)
      .where(if (pbs.isEmpty) lit(false) else col("pb").isin(pbs: _*))
    // the size filter prunes at the candidate join. Both measures
    // share the lower side (a qualifying pair has n_common >= t‰·nb
    // and n_common <= na, so na >= t‰·nb — the prefix bound's own
    // pigeonhole count); only Jaccard may ALSO prune the upper side
    // (J >= t forces nb >= t‰·na — containment of the batch doc puts
    // no ceiling on the container's size, which is the whole point
    // of the asymmetric measure).
    val sized = col("a.h") === col("b.h") &&
      col("a.n_h") * lit(1000L) >= col("b.nb") * lit(t)
    val candAll = posts.as("a").join(broadcast(pref.as("b")),
        if (jaccard)
          sized && col("b.nb") * lit(1000L) >= col("a.n_h") * lit(t)
        else sized)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_b").as("doc_b"))
      .distinct()
    val batchSets = nb0.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs_b"),
        count(lit(1)).as("nb"))
      .select(col("doc_id").as("doc_b"), col("hs_b"), col("nb"))
    (candAll, batchSets, base)
  }

  /** The probe-then-fallback route decision on an ANSWER-sized
    * candidate frame (the [[bm25TopKIndexedBatch]] `localPairLimit`
    * discipline, shared by the exact serving doors): limit(N+1)
    * decides in one job — within the cap the collected rows re-emit
    * as a broadcast LocalRelation (driver-bounded BY CONSTRUCTION),
    * past it the frame stays distributed (pinned, joined by key —
    * the stored side rides one exchange, the honest price when the
    * answer outgrew the driver). Returns the join-ready frame. */
  private def candidateRoute(s: org.apache.spark.sql.SparkSession,
      candAll: DataFrame, localPairLimit: Int): DataFrame = {
    require(localPairLimit > 0, "localPairLimit must be positive")
    Route.bounded(candAll, localPairLimit) match {
      case Some(rows) => broadcast(s.createDataFrame(
        java.util.Arrays.asList(rows: _*), candAll.schema))
      case None => candAll.pinned
    }
  }

  /** Delete docs from a persisted MinHash index — the [[graft.operators
    * .EmbeddingOps.indexDelete]] tombstone protocol keyed by doc_id
    * (crash-atomic, O(batch); serving anti-joins the committed
    * tombstone set, [[minhashIndexCompact]] applies it physically).
    * Same caller contract: a tombstoned doc_id must never be
    * re-appended; one maintainer at a time. */
  def minhashIndexDelete(s: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame,
      failpoint: String => Unit = _ => ()): Unit =
    EmbeddingOps.indexDelete(s, path, ids, failpoint, keyCol = "doc_id")

  /** Compact a persisted MinHash index: the segment chain collapses to
    * one, tombstoned docs drop physically, and the tombstone manifest
    * clears — serving is identical before and after. Returns the
    * number of segments consolidated (0 = nothing to do). */
  def minhashIndexCompact(s: org.apache.spark.sql.SparkSession,
      path: String, failpoint: String => Unit = _ => ()): Int = {
    // probe the layout BEFORE the rewrite. Deliberately LENIENT where
    // every other door is strict: the full rewrite regenerates ONE
    // uniform layout from the compacted rows, so it is the advertised
    // HEALER for a mixed chain — exact iff ANY committed segment
    // carries _posts (the capability-superset direction; a plain
    // chain stays plain). The tail door cannot heal (it never touches
    // the non-tail segments) and keeps the strict refusal.
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val (g, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    val exact = g >= 0 && segs.exists(k => fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/docs/seg=$k/_posts")))
    EmbeddingOps.compactSegments(s, path, "docs", Seq.empty,
      _.write.mode("overwrite"), keyCol = "doc_id", failpoint,
      // regenerate the sidecars from the COMPACTED rows (tombstoned
      // docs dropped physically, so their bn/hub/posting mass
      // disappears exactly as the pre-sidecar window would recompute)
      extraSeg = segDir => writeMinhashSidecars(s, segDir, exact))
  }

  /** Size-tiered tail compaction for the BM25 index — the two-dir
    * rendering of [[graft.operators.EmbeddingOps
    * .tailCompactSegments]]'s contract: the smallest segments'
    * postings merge into one (tombstones applied physically for the
    * merged rows, `_dels` retained for the survivors), the merged
    * segment's totals row and `_tdict` recompute from its surviving
    * postings, and BOTH staged dirs publish under one manifest
    * commit. O(tail) IO; the big old segments never rewrite —
    * collection statistics stay exact because totals were per-segment
    * sums all along (minus the usual tombstone-mass drift on the
    * untouched segments). Consumed dirs sweep one cycle later with
    * the epoch bump, exactly like the generic door. */
  def bm25IndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int = {
    require(maxSegments >= 1,
      s"maxSegments must be >= 1, got $maxSegments")
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val metaDir = new org.apache.hadoop.fs.Path(root, "_segs")
    val (gen, segs) = EmbeddingOps.committedSegs(fs, metaDir)
    require(gen >= 0 && segs.nonEmpty,
      s"no index manifest at $path/_segs — not an index root")
    EmbeddingOps.requireIngestResolved(fs, root, path, "postings")
    // forgetting outranks segment hygiene — same refusal as the
    // generic tail door (EmbeddingOps.requireNotSwept)
    EmbeddingOps.requireNotSwept(fs, root, path)
    val pDir = new org.apache.hadoop.fs.Path(root, "postings")
    val tDir = new org.apache.hadoop.fs.Path(root, "totals")
    EmbeddingOps.sweepUnreferencedSegs(fs, root, Seq(pDir, tDir),
      segs.toSet, failpoint)
    if (segs.size <= maxSegments) return 0
    val tail = segs
      .map(n => n -> fs.getContentSummary(
        new org.apache.hadoop.fs.Path(pDir, s"seg=$n")).getLength)
      .sortBy { case (n, bytes) => (bytes, n) }
      .take(segs.size - maxSegments + 1).map(_._1)
    val survivors = segs.filterNot(tail.toSet)
    val segId = segs.max + 1
    val live = s.read.option("basePath", s"$path/postings")
      .parquet(tail.sorted.map(k => s"$path/postings/seg=$k"): _*)
      .drop("seg")
      .join(EmbeddingOps.tombstones(s, path, "doc_id"),
        Seq("doc_id"), "left_anti")
      .pinned // postings rewrite + totals recompute, one read
    def stage(dir: org.apache.hadoop.fs.Path,
        write: String => Unit): org.apache.hadoop.fs.Path = {
      val staged =
        new org.apache.hadoop.fs.Path(dir, s".seg-$segId.stage")
      if (fs.exists(staged)) fs.delete(staged, true)
      val dest = new org.apache.hadoop.fs.Path(dir, s"seg=$segId")
      if (fs.exists(dest)) fs.delete(dest, true)
      write(staged.toString)
      staged
    }
    val pStaged = stage(pDir, p => {
      live.repartition(col("tb"))
        .write.partitionBy("tb").mode("overwrite").parquet(p)
      writeTermDict(s, p)
    })
    val tStaged = stage(tDir, p =>
      live.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tok"))
        .write.mode("overwrite").parquet(p))
    failpoint("tail-staged")
    Seq(pDir -> pStaged, tDir -> tStaged).foreach { case (dir, staged) =>
      require(fs.rename(staged,
        new org.apache.hadoop.fs.Path(dir, s"seg=$segId")),
        s"could not publish merged tail segment under $dir")
    }
    failpoint("tail-renamed")
    // friendly early refusal; a commit landing after this re-read is
    // caught by commitGen's no-overwrite CAS (the loser aborts)
    val (genNow, _) = EmbeddingOps.committedSegs(fs, metaDir)
    require(genNow == gen,
      s"concurrent writer detected at $path: the _segs manifest " +
        s"moved generation $gen -> $genNow during tail compaction — " +
        "the single-maintainer window was violated; re-run.")
    EmbeddingOps.commitGen(fs, metaDir, gen + 1,
      (survivors :+ segId).sorted)
    tail.size
  }

  /** Size-tiered tail compaction for the MinHash index —
    * [[graft.operators.EmbeddingOps.tailCompactSegments]] with the
    * family's writer and `_bstats` regeneration: merges only the
    * smallest segments until at most `maxSegments` remain, O(tail)
    * IO, tombstones kept (see the generic door's contract). */
  def minhashIndexCompactTail(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4,
      failpoint: String => Unit = _ => ()): Int = {
    val (fs, root) = EmbeddingOps.fsFor(s, path)
    val (g, segs) = EmbeddingOps.committedSegs(fs,
      new org.apache.hadoop.fs.Path(root, "_segs"))
    val exact =
      g >= 0 && segs.nonEmpty && minhashExactOf(fs, path, segs)
    EmbeddingOps.tailCompactSegments(s, path, "docs",
      _.write.mode("overwrite"), keyCol = "doc_id",
      maxSegments = maxSegments, failpoint = failpoint,
      extraSeg = segDir => writeMinhashSidecars(s, segDir, exact))
  }

  /** Run the standing maintenance policy on a MinHash root
    * ([[graft.operators.EmbeddingOps.maintainIndexWith]]): a pending
    * forget sweep forces the full rewrite, a segment count over
    * `maxSegments` takes the O(tail) door, otherwise no-op. The
    * periodic-maintenance call a pipeline schedules after its ingest
    * cadence. */
  def minhashIndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    EmbeddingOps.maintainIndexWith(s, path, maxSegments)(
      minhashIndexCompactTail(s, path, maxSegments))(
      minhashIndexCompact(s, path))

  /** [[minhashIndexMaintain]] for a BM25 root. */
  def bm25IndexMaintain(s: org.apache.spark.sql.SparkSession,
      path: String, maxSegments: Int = 4): String =
    EmbeddingOps.maintainIndexWith(s, path, maxSegments)(
      bm25IndexCompactTail(s, path, maxSegments))(
      bm25IndexCompact(s, path))

  /** BM25 top-k document retrieval for a literal term set — the
    * ranking function behind retrieval-based curation passes
    * (kNN-LM-style example selection, contamination triage against a
    * query suite, targeted corpus audits). Robertson/Spärck Jones
    * BM25 (k1, b as permille constants) made cross-engine exact by
    * clearing every fraction: with N docs, T total tokens (avgdl =
    * T/N), doc length dl and permille constants K, B,
    *
    *   tf_factor = tf*(K+1000)*1000*T
    *             / (tf*1e6*T + K*(1000-B)*T + K*B*dl*N)
    *
    * is the textbook tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) with both
    * sides multiplied by 1e6*T — exact integers, quantized to
    * permille by one integral division, then weighted by the
    * [[tfidfTopTerm]] bit-length idf floor(log2(N div df)). Products
    * reach tf*2.2e9*T ~ 1e25 at corpus scale, so the arithmetic runs
    * in DECIMAL(38,0) (the [[mixTemperature]] discipline; the oracle
    * mirrors with HUGEINT).
    *
    * Scale shape: the token stream filters to QUERY TERMS before the
    * tf aggregate (only matching tokens shuffle); df comes off that
    * tf frame and is bounded by |terms|, broadcast back; N and T are
    * a 1-row broadcast scalar; the final top-k is a global
    * TakeOrderedAndProject with a total-order tie-break — no global
    * window, no corpus-sized broadcast. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
      k1Permille: Long = 1200L, bPermille: Long = 750L): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "query terms must be non-empty and distinct")
    require(bPermille >= 0 && bPermille <= 1000,
      "b is a permille value in [0, 1000]")
    val s = docs.sparkSession
    import s.implicits._
    val dl = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
      .pinned
    val tot = dl.agg(sum(col("dl")).as("t_tok"),
      count(lit(1)).as("n_docs"))
    val tq = broadcast(terms.toDF("word"))
    val tf = tokens(docs).join(tq, Seq("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .pinned
    val df_ = broadcast(tf.groupBy(col("word"))
      .agg(count(lit(1)).as("df"))) // bounded by |terms|
    bm25Rank(tf.join(df_, Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot)), // 1-row scalar frame
      k, k1Permille, bPermille)
  }

  /** Sentinel stats key for the corpus totals row — contains spaces,
    * so it can never collide with a space-split token (the nbSink
    * prior-row discipline). */
  val Bm25Sentinel = " corpus "

  /** The BM25 sufficient statistic of a corpus, as ONE additive
    * frame: (word, df, tok) rows — df = #docs containing the word,
    * tok = 0 — plus the [[Bm25Sentinel]] totals row carrying
    * (n_docs, total_tokens) in the same two columns. Everything is a
    * SUM over per-doc contributions, so the frame folds
    * incrementally (graft.streaming.Streams.bm25Sink maintains it
    * under the registry-guarded additive protocol) and two corpora's
    * stats merge by adding. Vocabulary-sized, shuffle-keyed on word —
    * never broadcast; serving filters it to the query's terms first. */
  def bm25Stats(docs: DataFrame): DataFrame = {
    val d = docs.pinned // word rows + totals row read the corpus once
    val perWord = tokens(d).select(col("doc_id"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
      .withColumn("tok", lit(0L))
    val sent = d.agg(count(lit(1)).as("df"),
        sum(size(split(col("text"), " "))).cast("long").as("tok"))
      .select(lit(Bm25Sentinel).as("word"), col("df"), col("tok"))
    perWord.unionByName(sent)
  }

  /** [[bm25TopK]] served from PRE-BUILT stats ([[bm25Stats]] or a
    * maintained graft.streaming.Streams.bm25StatsState): ranks the
    * BATCH documents with document frequencies and length
    * normalization taken from the stats corpus — the offline-build /
    * online-serve split of a retrieval pass (score fresh documents
    * against the collection's statistics without rescanning the
    * collection). Query terms unseen in the stats corpus drop via the
    * inner df join (no defined idf — the text_lm_cross inner-join
    * convention). Only term-bounded slices of the stats frame and the
    * 1-row totals broadcast; batch-side tf filters to query terms
    * before its aggregate, dl joins by a keyed doc_id shuffle. */
  def bm25TopKWith(batch: DataFrame, stats: DataFrame,
      terms: Seq[String], k: Int = 10, k1Permille: Long = 1200L,
      bPermille: Long = 750L): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "query terms must be non-empty and distinct")
    val s = batch.sparkSession
    import s.implicits._
    val st = stats.pinned // terms slice + totals row, one build
    val tq = broadcast(terms.toDF("word"))
    val dfT = broadcast(st.join(tq, Seq("word"))
      .select(col("word"), col("df"))) // bounded by |terms|
    val tot = broadcast(st.where(col("word") === Bm25Sentinel)
      .select(col("df").as("n_docs"), col("tok").as("t_tok")))
    val dl = batch
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
      .pinned
    val tf = tokens(batch).join(tq, Seq("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    bm25Rank(tf.join(dfT, Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(tot), k, k1Permille, bPermille)
  }

  /** Shared BM25 arithmetic over a joined (doc_id, word, tf, df, dl,
    * t_tok, n_docs) frame — the exact-integer saturation/idf/top-k
    * back half of [[bm25TopK]] and [[bm25TopKWith]]. */
  /** The exact-integer per-(doc, word) BM25 arithmetic shared by the
    * single-query ([[bm25Rank]]) and batched (`bm25TopKIndexedBatch`)
    * serves — one definition so the two paths cannot drift. Input
    * carries (tf, dl, df, n_docs, t_tok); adds the quantized idf and
    * the permille-scaled tf saturation. Both are query-INDEPENDENT
    * (they depend only on corpus statistics), which is what lets the
    * batched serve compute them once per posting row and fan out to
    * queries afterwards. */
  private def bm25ScoreCols(scored0: DataFrame, K: Long,
      B: Long): DataFrame = {
    require(B >= 0 && B <= 1000, "b is a permille value in [0, 1000]")
    scored0
      .withColumn("idf_q",
        (length(bin(expr("n_docs div df"))) - 1).cast("long"))
      .withColumn("sat_permille", expr(
        s"CAST(CAST(tf AS DECIMAL(38,0)) * ${K + 1000L} * 1000 * t_tok" +
          s" * 1000 div (CAST(tf AS DECIMAL(38,0)) * 1000000 * t_tok" +
          s" + CAST(${K * (1000L - B)} AS DECIMAL(38,0)) * t_tok" +
          s" + CAST(${K * B} AS DECIMAL(38,0)) * dl * n_docs) AS BIGINT)"))
  }

  private def bm25Rank(scored0: DataFrame, k: Int, K: Long,
      B: Long): DataFrame =
    bm25ScoreCols(scored0, K, B)
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_terms"),
        sum(col("idf_q") * col("sat_permille")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id").asc)
      .limit(k)
}
