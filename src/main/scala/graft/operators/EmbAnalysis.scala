package graft.operators

import graft.operators.Stage.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding corpus analytics and the streaming registry view.
  * Split from [[EmbeddingOps]] purely mechanically. */
private[graft] trait EmbAnalysisOps { this: EmbeddingOps.type =>

  /** Per-label embedding mass card — the sanity sweep run before any
    * similarity work (a label whose norm range collapses or explodes
    * signals a broken encoder batch): exact integer counts and
    * squared-norm sums/extremes per label, one map-side-combined
    * aggregate. */
  def embeddingStats(emb: DataFrame): DataFrame =
    quantized(emb).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("nn")).as("sum_nn"),
        min(col("nn")).as("min_nn"), max(col("nn")).as("max_nn"))

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster with the TRAINED coarse quantizer
    * ([[kmeansCentroidsQ]]), then generate candidate pairs only
    * WITHIN each cluster — the same sum-of-per-cell-quadratics bound
    * as [[nearDupCosineLsh]], but with data-adapted partitions
    * instead of random hyperplanes (SemDeDup's observation: semantic
    * duplicates concentrate inside k-means cells of the embedding
    * space). Output keeps the cell so survivor selection can stay
    * per-cluster; the recall trade is the same as LSH's — a
    * qualifying pair split across cells is missed. Centroids are
    * centroid-cardinality (broadcast); the pair join shuffles on the
    * cell key only. */
  /** Per-vector content registry — the embedding analog of
    * graft.operators.TextOps.minhashRegistry, the state frame the
    * streaming fold (graft.streaming.Streams.embeddingSink) maintains
    * so [[semanticDedup]] can run over an INCREMENTALLY-built corpus:
    * one row per vec_id carrying the payload (embedding + label) and
    * a content hash over the QUANTIZED milli-units (the corpus'
    * determinism currency — float rendering would be engine-unstable).
    * Re-delivering a vector byte-identically is a no-op; any mutation
    * is detectable by hash. One scan, one keyed aggregate. */
  def embeddingRegistry(emb: DataFrame): DataFrame =
    embeddingRegistryAudited(emb)
      .withColumnRenamed("ch_lo", "content_hash").drop("ch_hi")

  /** [[embeddingRegistry]] with the content hash as a (min, max) pair
    * per vec_id, so a vector delivered twice within ONE micro-batch
    * with different values surfaces as ch_lo != ch_hi instead of
    * collapsing silently — same audited shape as
    * TextOps.minhashRegistryAudited, consumed by the streaming fold's
    * refuse-on-mutation check. */
  private[graft] def embeddingRegistryAudited(emb: DataFrame): DataFrame = {
    val ch = md5(concat_ws("|",
      concat_ws(",", transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long").cast("string"))),
      coalesce(col("label").cast("string"), lit(""))))
    emb.select(col("vec_id"), ch.as("ch"),
        struct(col("embedding"), col("label")).as("payload"))
      .groupBy(col("vec_id"))
      .agg(min(col("ch")).as("ch_lo"), max(col("ch")).as("ch_hi"),
        // rows in a group are identical whenever the refuse check can
        // pass (ch_lo == ch_hi), so the min_by pick is deterministic
        min_by(col("payload"), col("ch")).as("payload"))
      .select(col("vec_id"), col("ch_lo"), col("ch_hi"),
        col("payload.embedding").as("embedding"),
        col("payload.label").as("label"))
  }

  /** Per-dimension robust statistics of the quantized corpus — the
    * normalization/clipping prep read (which dimensions are skewed,
    * where a robust scaler's center sits): exact min, max, and MEDIAN
    * of each dimension's integer milli-units. The median is exact
    * WITHOUT any per-dimension sort of corpus-sized data: quantized
    * values are integers, so per-(dim, value) counts + a cumulative
    * window over the value-cardinality frame select the lower-median
    * rank directly (the value-histogram selection trick — window
    * partitions hold one row per DISTINCT value, not per vector). */
  def dimStats(emb: DataFrame): DataFrame = {
    val vals = quantized(emb)
      .select(posexplode(col("q")).as(Seq("c", "v")))
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
      .pinned
    val n = vals.groupBy(col("c")).agg(sum(col("cnt")).as("n"),
      min(col("v")).as("min_q"), max(col("v")).as("max_q"))
    val w = Window.partitionBy(col("c")).orderBy(col("v"))
    val med = vals
      .withColumn("cum", sum(col("cnt")).over(w))
      .join(n.select(col("c"), col("n")), Seq("c"))
      .where(col("cum") >= expr("(n + 1) div 2")) // lower-median rank
      .groupBy(col("c")).agg(min(col("v")).as("median_q"))
    n.join(med, Seq("c"))
      .select(col("c"), col("min_q"), col("max_q"), col("median_q"))
  }

  /** Embedding ingest-quality gate card — the checks run BEFORE a
    * batch is allowed near an index or a fold state, as one bounded
    * row: null/empty/NaN vectors, exact-zero vectors (un-normalizable
    * — cosine serving would divide by zero), the corpus's MODAL
    * dimensionality with the count of non-null rows that disagree
    * (a mixed-encoder batch), and the exact quantized squared-norm
    * extremes over the CLEAN rows (non-null, modal-width, NaN-free —
    * a collapsing or exploding norm range flags a broken encoder
    * run). Shape: one map-side-combined aggregate over the corpus
    * plus a dimension-histogram mode (bounded by the number of
    * distinct widths) broadcast back — no corpus-sized shuffle. */
  def embQualityCard(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      size(col("embedding")).cast("long").as("d"),
      coalesce(exists(col("embedding"), x => isnan(x)), lit(false))
        .as("has_nan"),
      coalesce(forall(col("embedding"), x => x === lit(0.0f)),
        lit(false)).as("all_zero"))
      // the norm only exists for NaN-free vectors (under ANSI,
      // quantizing a NaN is a cast overflow, not a value) — and the
      // card only reads it on clean rows anyway
      .withColumn("nn", when(!col("has_nan"),
        aggregate(transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long")),
          lit(0L), (acc, x) => acc + x * x)))
    // the mode reduces to ONE row via a global aggregate — never a
    // limit(1) over an orderBy, which on a fully-NULL batch would be
    // an EMPTY frame and the crossJoin below would annihilate the
    // whole card (n_vecs=0 for a non-empty broken batch). A global
    // agg over zero rows yields one NULL row instead: dim_mode is
    // NULL, every count still reflects the real batch. Tie-break
    // matches the old orderBy(cnt desc, d asc): max_by over
    // (cnt, -d) picks the most frequent width, smaller width first.
    val mode = broadcast(base.where(col("embedding").isNotNull)
      .groupBy(col("d")).agg(count(lit(1)).as("cnt"))
      .agg(max_by(col("d"), struct(col("cnt"), (-col("d")).as("nd")))
        .as("dim_mode")))
    base.crossJoin(mode)
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L))
          .as("n_null_vec"),
        sum(when(col("d") === 0L, 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("d") > 0L && !col("has_nan") && col("all_zero"),
          1L).otherwise(0L)).as("n_zero_norm"),
        max(col("dim_mode")).as("dim_mode"),
        sum(when(col("embedding").isNotNull &&
          col("d") =!= col("dim_mode"), 1L).otherwise(0L))
          .as("n_dim_mismatch"),
        min(when(col("embedding").isNotNull && !col("has_nan") &&
          col("d") === col("dim_mode"), col("nn"))).as("min_nn"),
        max(when(col("embedding").isNotNull && !col("has_nan") &&
          col("d") === col("dim_mode"), col("nn"))).as("max_nn"))
  }
}
