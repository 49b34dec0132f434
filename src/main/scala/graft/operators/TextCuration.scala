package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

// Packing row shapes: TOP-LEVEL case classes (not trait members) so
// their product encoders derive from a stable prefix.
private[graft] case class PackIn(doc_id: Long, lang: String, shard: Long,
    n_tokens: Long)

private[graft] case class PackOut(doc_id: Long, lang: String, shard: Long,
    n_tokens: Long, pack_id: Long, pack_fill: Long)

/** The composed curation pipeline and sequence packing — the
  * end-to-end family of [[TextOps]]. Split from the single object
  * purely mechanically. */
private[graft] trait TextCurationOps { this: TextOps.type =>

  /** The unified curation pipeline — the whole front-to-back chain a
    * web corpus runs before training, composed from the engine's own
    * operators with NOTHING recomputed from the raw input between
    * stages: each stage's survivor frame is pinned (Stage.pinned)
    * once and feeds both its own filter and the next stage, so the
    * corpus is read once and every later stage touches only
    * survivors. Input is the raw MARKUP frame (doc_id, source, lang,
    * html); the stages are
    *
    *  1. [[extractHtml]] — markup -> text (kept lines re-join with
    *     spaces, keeping the token stream whitespace-clean);
    *  2. [[dedupExact]] — smallest doc_id per content hash survives;
    *  3. [[langId]] — keep docs whose corpus-profile prediction
    *     matches their recorded language (mislabel drop);
    *  4. [[qualityFilter]] — keep only `keep` docs (tier/PII/length);
    *  5. [[dedupSpans]] — cross-doc duplicated runs of `spanK` tokens
    *     excise; fully-duplicated docs drop;
    *  5b. (optional, `containT` set) [[dropContained]] — the exact
    *     containment gate: drop every doc `containT`-contained in a
    *     (size, id)-greater survivor — the quoted/boilerplate-superset
    *     duplicates whose shared runs are shorter than `spanK`;
    *  5c. (optional, `benchmark` or `benchmarkIndex` set) benchmark
    *     DECONTAMINATION — the exact cross-corpus gate: drop every
    *     survivor `benchT`-contained in a benchmark document, so the
    *     curated corpus cannot train on held-out evaluation content.
    *     `benchmark` recomputes against an in-flight frame
    *     ([[containmentJoin]]); `benchmarkIndex` serves against a
    *     PERSISTED exact MinHash root ([[containmentServeExact]]) —
    *     the scale path: the benchmark indexes ONCE and every
    *     crawl's funnel screens against it without touching the
    *     benchmark corpus again (same pairs, machine-checked by the
    *     funnel oracle at both routes); `benchmarkAsOf` pins the
    *     persisted index's capture-time view, so a run that screens
    *     many batches sees ONE benchmark list even while appends
    *     land mid-run (spec: the pinned gate equals the recompute
    *     gate over the capture slice). Either way the gate runs
    *     over the SPAN-EXCISED text (what actually trains and packs)
    *     and composes like the other gates: one keyed anti-join,
    *     candidates bounded by the contained-side prefix, never
    *     all-pairs;
    *  6. [[lmScore]] — keep docs whose quantized bigram NLL stays at
    *     or below `lmKeepMilli` per mille per bigram (the CCNet
    *     perplexity gate), compared in exact integers;
    *  7. [[mixTemperature]] — the mT5/XLM-R source-mixing subsample;
    *  8. [[seqPack]] — survivors pack into fixed-budget sequences.
    *
    * Returns [[seqPack]]'s frame (doc_id, lang, shard, n_tokens,
    * pack_id, pack_fill) over the curated corpus. Every stage is the
    * operator already oracle-checked in isolation; the e2e oracle
    * replays the full chain, pinning the COMPOSITION (column
    * contracts between stages, filter arms, survivor joins). */
  def curate(raw: DataFrame, spanK: Int = 8, lmKeepMilli: Long = 3950L,
      maxChars: Long = 100000L, packBudget: Long = 512L,
      packShard: Long = 200L,
      ledgerPath: Option[String] = None,
      containT: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      benchT: Double = 0.9,
      benchmarkIndex: Option[String] = None,
      benchmarkAsOf: Option[IndexSnapshot] = None): DataFrame =
    seqPack(
      curateChain(raw, spanK, lmKeepMilli, maxChars,
        ledgerPath = ledgerPath, containT = containT,
        benchmark = benchmark, benchT = benchT,
        benchmarkIndex = benchmarkIndex,
        benchmarkAsOf = benchmarkAsOf).last._2,
      packBudget, packShard)

  /** [[curate]] behind a SemDeDup front gate — the joint text+
    * embedding curation a multimodal corpus runs (SemDeDup, Abbas
    * et al. 2023, composed with the CCNet-style text funnel): docs
    * whose EMBEDDING is a semantic near-duplicate of a lower-id doc
    * (cos >= `threshold` within a trained quantizer cell —
    * [[EmbeddingOps.semanticDedup]]) are dropped BEFORE the text
    * chain, then the full 7-stage funnel + packing runs over the
    * survivors. `emb` rows join `raw` by vec_id = doc_id (the shared
    * id-domain contract). Scale shape: the drop set is bounded by
    * the quantizer's within-cell pair volume (never all-pairs), and
    * the gate is one keyed anti-join; every downstream stage is the
    * operator already probed in isolation. A supplied forget-ledger
    * gates BOTH sides: the corpus (inside [[curate]], first) and the
    * SCORING side here — a forgotten doc's vector must not train the
    * quantizer or drop other docs' near-dups (the spec pins that a
    * victim whose only near-dup was a forgotten doc survives). */
  def curateSemantic(raw: DataFrame, emb: DataFrame, spanK: Int = 8,
      lmKeepMilli: Long = 3950L, maxChars: Long = 100000L,
      packBudget: Long = 512L, packShard: Long = 200L,
      threshold: Double = 0.45,
      ledgerPath: Option[String] = None,
      containT: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      benchT: Double = 0.9,
      benchmarkIndex: Option[String] = None,
      benchmarkAsOf: Option[IndexSnapshot] = None): DataFrame = {
    // the ledger's stored key column is doc_id (ledgerAppend's
    // default); the shared id-domain contract makes the rename the
    // whole translation
    val embIn = ledgerPath.fold(emb)(p =>
      Forget.forgottenFilter(
          emb.withColumnRenamed("vec_id", "doc_id"), p)
        .withColumnRenamed("doc_id", "vec_id"))
    // drop the GREATER id of every semantic near-dup pair: the
    // deterministic keep-lowest survivor rule the exact-dedup stage
    // already uses, so the two dedup stages agree on who survives
    val dropped = EmbeddingOps.semanticDedup(embIn, threshold = threshold)
      .select(col("vec_b").as("doc_id")).distinct()
    curate(raw.join(dropped, Seq("doc_id"), "left_anti"), spanK,
      lmKeepMilli, maxChars, packBudget, packShard, ledgerPath,
      containT, benchmark, benchT, benchmarkIndex, benchmarkAsOf)
  }

  /** The per-stage curation funnel — the observability artifact a
    * production curation run publishes next to its output (the
    * [[corpusReport]] discipline applied to the pipeline itself):
    * surviving document count and exact token mass after every stage
    * of [[curate]]. One bounded row per stage; each count is one
    * aggregate over that stage's pinned survivor frame, so the report
    * costs the chain nothing it had not already computed. */
  def curateReport(raw: DataFrame, spanK: Int = 8,
      lmKeepMilli: Long = 3950L, maxChars: Long = 100000L,
      ledgerPath: Option[String] = None,
      containT: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      benchT: Double = 0.9,
      benchmarkIndex: Option[String] = None,
      benchmarkAsOf: Option[IndexSnapshot] = None): DataFrame =
    curateChain(raw, spanK, lmKeepMilli, maxChars,
      ledgerPath = ledgerPath, containT = containT,
      benchmark = benchmark, benchT = benchT,
      benchmarkIndex = benchmarkIndex,
      benchmarkAsOf = benchmarkAsOf).zipWithIndex
      .map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(split(col("text"), " ")).cast("long")),
            lit(0L)).as("n_tokens"))
          .select(lit(i + 1L).as("stage_id"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      }
      .reduce(_ unionByName _)

  /** The shared stage chain behind [[curate]]/[[curateReport]]: each
    * stage's survivor frame pinned once, feeding both its own filter
    * and the next stage. `pin` is the stage-boundary materialization —
    * a LAZY checkpoint by default (Stage.pinnedLazy): the chain is
    * strictly sequential and every stage frame is consumed by the
    * next stage's first job (or an interior operator's own eager
    * pin), so the blocks fill there instead of in a dedicated pin
    * job per stage — same data, same lineage truncation, one fewer
    * scheduling barrier per stage (§2.6). The composed-chain scale
    * probe passes identity so the six inter-stage doc_id joins stay
    * in ONE walkable plan instead of disappearing behind checkpoint
    * scans. */
  private[graft] def curateChain(rawIn: DataFrame, spanK: Int,
      lmKeepMilli: Long, maxChars: Long,
      pin: DataFrame => DataFrame = _.pinnedLazy,
      ledgerPath: Option[String] = None,
      containT: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      benchT: Double = 0.9,
      benchmarkIndex: Option[String] = None,
      benchmarkAsOf: Option[IndexSnapshot] = None): Seq[(String, DataFrame)] = {
    // contract checks BEFORE any stage materializes: the default pin
    // (Stage.pinnedLazy) fills during the first job that consumes it
    // and a caller's pin may be eager, so a misuse reported at the
    // gate could already have paid five stages of work
    require(benchmark.isEmpty || benchmarkIndex.isEmpty,
      "pass benchmark OR benchmarkIndex, not both — they are two " +
        "routes to the same decontamination gate")
    require(benchmarkAsOf.isEmpty || benchmarkIndex.nonEmpty,
      "benchmarkAsOf pins the PERSISTED benchmark index's view — it " +
        "needs benchmarkIndex (the in-flight benchmark frame has no " +
        "snapshots to pin)")
    // the forget-ledger front door composes FIRST when a ledger is
    // supplied: a forgotten doc must be dropped before any stage (or
    // any downstream index/state fed from the survivors) sees it —
    // without this hook the guard was left to the caller, which is
    // exactly how re-admission bugs happen
    val raw = ledgerPath.fold(rawIn)(Forget.forgottenFilter(rawIn, _))
    // extraction is PER ROW, so source/lang ride the projection
    // itself — no doc_id self-join to re-attach them (guide §2.4: the
    // old extract ⋈ meta join shuffled the whole corpus twice for a
    // per-row computation). extractDerived is the standalone
    // operator's own definition, so the rules cannot drift.
    val d1 = extractDerived(raw)
      .select(col("doc_id"), col("source"), col("lang"),
        regexp_replace(array_join(col("__kept"), "\n"), "\n", " ")
          .as("text"))
    val d1p = pin(d1)
    val d2 = pin(d1p.join(dedupExact(d1p)
      .select(col("kept_doc_id").as("doc_id")), Seq("doc_id")))
    val d3 = pin(d2.join(langId(d2).where(col("correct"))
      .select(col("doc_id")), Seq("doc_id")))
    // the quality gate is one per-row boolean — survivors keep their
    // text in place (where(keep)) instead of re-attaching it through
    // a doc_id self-join (guide §2.4); qualityFilterAll is the
    // standalone filter's own projection, so the rules cannot drift
    val d4 = pin(qualityFilterAll(d3, maxChars).where(col("keep"))
      .select(col("doc_id"), col("source"), col("lang"), col("text")))
    val d5 = pin(d4.drop("text")
      .join(dedupSpans(d4, spanK).where(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text")),
        Seq("doc_id")))
    // optional containment gate between span excision and the LM
    // gate: drop every doc `containT`-contained in a (size, id)-
    // greater survivor ([[dropContained]] — the quoted/boilerplate-
    // superset duplicates span excision leaves behind when the shared
    // run is shorter than spanK tokens). It runs AFTER span excision
    // (the excised text is what trains the LM and packs, so the
    // subset relation must hold on the corpus the later stages see)
    // and composes exactly like the SemDeDup front gate: one keyed
    // anti-join over the stage's survivors, candidates bounded by the
    // prefix filter, never all-pairs.
    val d5c = containT.fold(d5)(t => pin(dropContained(d5, t)))
    // optional benchmark-decontamination gate: drop every survivor
    // `benchT`-contained in a benchmark document — the curated
    // corpus must not train on held-out evaluation content. Two
    // routes to the SAME drop set: `benchmark` recomputes against an
    // in-flight frame ([[containmentJoin]], recall-guaranteed);
    // `benchmarkIndex` serves against a persisted exact MinHash root
    // ([[containmentServeExact]] — the benchmark indexes once, every
    // crawl screens against it). Either way it runs over the text
    // the later stages actually consume (post-excision,
    // post-containment) and composes exactly like the other front
    // gates: the drop set is one bounded pair frame (contained-side
    // prefix candidates, never all-pairs), the action one keyed
    // anti-join over the stage's survivors.
    val d5d = (benchmark, benchmarkIndex) match {
      case (Some(b), _) => pin(
        d5c.join(containmentJoin(d5c, b, benchT)
            .select(col("doc_a").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      case (_, Some(ix)) => pin(
        d5c.join(containmentServeExact(rawIn.sparkSession, ix, d5c,
              benchT, asOf = benchmarkAsOf)
            .select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      case _ => d5c
    }
    val d6 = pin(d5d.join(lmScore(d5d)
      .where(col("nll_sum") * 1000 <= col("n_bigrams") * lmKeepMilli)
      .select(col("doc_id")), Seq("doc_id")))
    val d7 = pin(d6.join(mixTemperature(d6).select(col("doc_id")),
      Seq("doc_id")))
    Seq("extract" -> d1p, "dedup_exact" -> d2, "langid" -> d3,
      "quality" -> d4, "span_excise" -> d5) ++
      containT.map(_ => "containment" -> d5c).toSeq ++
      benchmark.orElse(benchmarkIndex)
        .map(_ => "decontaminate" -> d5d).toSeq ++
      Seq("lm_gate" -> d6, "mix" -> d7)
  }

  /** Greedy contiguous sequence packing — the step that turns a
    * curated corpus into fixed-budget training sequences: walk each
    * stratum's documents in doc_id order and open a new pack whenever
    * adding the next document would exceed `maxTokens` (a document
    * longer than the budget gets a pack of its own). The recurrence is
    * inherently sequential, so it runs per GROUP over a sorted
    * spill-able iterator (flatMapSortedGroups) with O(1) state — and
    * the group key is (lang, doc_id div shardDocs), not just lang:
    * sharding bounds every sequential walk to `shardDocs` documents,
    * which is what keeps the operator parallel at 100 TB (the cost is
    * at most one underfull pack per shard boundary — a documented
    * packing-efficiency trade, not silent loss). Pack ids are scoped
    * per (lang, shard), and `pack_fill` is the running token count
    * within the pack after placing the row's document. */
  def seqPack(docs: DataFrame, maxTokens: Long = 512,
      shardDocs: Long = 200): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(shardDocs > 0, s"shardDocs must be positive, got $shardDocs")
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(col("doc_id"), col("lang"),
        expr(s"doc_id div $shardDocs").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[PackIn]
    toks.groupByKey(d => (d.lang, d.shard))
      .flatMapSortedGroups(col("doc_id").asc) { (_, it) =>
        var pack = 0L
        var fill = 0L
        it.map { d =>
          if (fill > 0 && fill + d.n_tokens > maxTokens) {
            pack += 1
            fill = d.n_tokens
          } else fill += d.n_tokens
          PackOut(d.doc_id, d.lang, d.shard, d.n_tokens, pack, fill)
        }
      }.toDF()
  }

  /** Packing-efficiency data card over [[seqPack]] — the artifact that
    * says what a chosen token budget COSTS: per language, how many
    * packed sequences the corpus yields, how full they are (exact
    * permille of capacity), and how many documents exceed the budget
    * outright (an oversized doc occupies its own pack with
    * fill > budget, so fill_permille can exceed 1000 where they
    * dominate — surfaced rather than clamped). Two aggregates over
    * the pack assignment; output is language-cardinality. */
  def packReport(docs: DataFrame, maxTokens: Long = 512,
      shardDocs: Long = 200): DataFrame = {
    val perShard = seqPack(docs, maxTokens, shardDocs)
      .groupBy(col("lang"), col("shard"))
      .agg((max(col("pack_id")) + 1L).as("n_packs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("n_tokens") > maxTokens, 1L).otherwise(0L))
          .as("n_oversize"))
    perShard.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_packs")).as("n_packs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_oversize")).as("n_oversize"))
      .select(col("lang"), col("n_docs"), col("n_packs"),
        col("total_tokens"), col("n_oversize"),
        (col("n_packs") * maxTokens).as("capacity"),
        expr(s"total_tokens * 1000 div (n_packs * $maxTokens)")
          .as("fill_permille"))
  }
}
