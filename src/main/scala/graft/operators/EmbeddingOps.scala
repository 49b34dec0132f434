package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search and embedding-based dedup over the `embeddings`
  * table (vec_id, embedding: array<float>, label).
  *
  * Determinism strategy: embeddings are quantized to integer
  * milli-units (round(x*1000) as long), so dot products and squared
  * norms are EXACT integers in any engine and summation order cannot
  * change the result; cosine is then one IEEE expression
  * dot / (sqrt(na)*sqrt(nb)) evaluated identically by Spark and the
  * DuckDB oracle.
  *
  * Scale design: brute-force top-k is the verified baseline (fine when
  * the query set is small — cost is |Q| x corpus, a broadcast of Q, no
  * corpus shuffle). The LSH variant buckets vectors by 8 deterministic
  * random-hyperplane signs so candidate generation is per-bucket; at
  * 100 TB you re-bucket with more planes and a multi-probe, the plan
  * shape stays the same.
  */
object EmbeddingOps extends EmbSegmentOps with EmbLshOps with EmbIvfOps with EmbPqOps with EmbTierOps with EmbAnalysisOps {

  /** Quantized view: q = array<long> of round(x*1000), plus the exact
    * squared norm. The float widens to double BEFORE the multiply —
    * float-precision x*1000 can land exactly on a .5 boundary that the
    * exact double product avoids, flipping the rounded milli-unit vs
    * the oracle's double arithmetic. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(
      col("vec_id"), col("label"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("nn",
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))

  /** Exact integer dot product of two quantized vectors via the custom
    * codegen'd expression (graft.plans.DotProductI64) — a tight
    * primitive loop inside whole-stage codegen instead of the
    * zip_with+aggregate HOF pair (which allocates an intermediate array
    * and interprets two lambdas per element). */
  private[operators] def qdot(a: Column, b: Column): Column =
    call_function("dot_i64", a, b)

  /** cosine = dot / (sqrt(na)*sqrt(nb)) — one deterministic IEEE
    * expression over exact integers. */
  private[operators] def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Brute-force cosine top-k: for each query vector (vec_id <
    * nQueries) the k nearest corpus vectors. The query side is tiny and
    * broadcast; the corpus is scanned once, never shuffled; top-k per
    * query is a window over |Q|*k rows. */
  def annTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    annTopKQ(quantized(emb), nQueries, k)

  /** [[annTopK]] over an already-[[quantized]] frame — lets pipelines
    * that need several views of the corpus ([[ivfRecall]]) share one
    * quantization scan. */
  def annTopKQ(e: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nn").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(qdot(col("qv"), col("q")), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        col("cos"))
  }

  private[operators] val Dim = 64

  /** recall@k overlap tail shared by [[ivfRecall]] and [[pqRecall]]:
    * per query, how many of the exact brute top-k the approximate
    * route found — both inputs are (query_id, vec_id) frames, the
    * ratio is one exact-integer division. */
  private[operators] def recallVsBrute(brute: DataFrame, approx: DataFrame,
      k: Int): DataFrame = {
    val hits = brute.join(approx, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k)
          .as("recall_at_k"))
  }
}
