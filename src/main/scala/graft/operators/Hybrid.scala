package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval — reciprocal-rank fusion (RRF, Cormack et al.
  * SIGIR 2009) of a lexical arm (the persisted BM25 index) and a
  * dense arm (the persisted IVF-PQ index) over the same corpus ids.
  * The modern retrieval default (every production search stack runs
  * lexical + dense side by side), and the natural consumer of the
  * engine's two batched index serves.
  *
  * Beyond-reference: the reference has no retrieval surface at all;
  * this composes the two index families the way a training-data
  * pipeline de-duplicates retrieval-augmented corpora or mines hard
  * negatives (query batch -> fused top-k per query).
  *
  * Scale shape: both arms are top-`kArm`-per-query frames — bounded
  * by batch x kArm BY CONSTRUCTION, never corpus-sized — so the
  * fusion join and the final per-query window shuffle O(batch x kArm)
  * rows no matter how large the indexes are. The corpus is touched
  * only inside the arms, each through its own pruned one-scan serve
  * ([[TextOps.bm25TopKIndexedBatch]], [[EmbeddingOps
  * .ivfpqTopKIndexed]]).
  */
object Hybrid {

  /** Fuse two ranked candidate lists by reciprocal rank. Inputs carry
    * (query_id, cand_id, rk) with rk 1-based and unique per (query,
    * arm) — the contract every top-k serve in the engine meets via
    * its row_number tie-break. Score: 1/(rrfK + rk) summed over the
    * arms the candidate appears in; a two-term IEEE double sum of
    * exactly-representable divisions, so the ranking is deterministic
    * and replayable bit-for-bit in any engine that writes the same
    * two-term formula (the oracle does). Ties break by cand_id, the
    * engine-wide total-order rule. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    require(k > 0 && rrfK >= 0, "k must be positive, rrfK non-negative")
    val l = lex.select(col("query_id"), col("cand_id"),
      col("rk").cast("int").as("lex_rk"))
    val d = dense.select(col("query_id"), col("cand_id"),
      col("rk").cast("int").as("dense_rk"))
    // full outer: a candidate seen by one arm still scores (that is
    // the point of RRF — the arms vote, they don't gate each other).
    // Both sides are batch x kArm frames; the join is key-shuffled
    // but O(batch), never corpus-sized.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id").asc)
    l.join(d, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rk")), lit(0.0)))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col("cand_id"), col("lex_rk"), col("dense_rk"), col("rrf"))
  }

  /** The composed serving door: batched BM25 arm + IVF-PQ ADC arm,
    * fused. `termQueries` is the lexical batch as (query_id, word);
    * `vecQueries` the dense batch as embedding rows (vec_id is the
    * query id, [[EmbeddingOps.ivfpqTopKIndexed]]'s contract). The two
    * `asOf` tokens pin each arm to a captured index view
    * independently ([[EmbeddingOps.indexSnapshot]]) — a recorded
    * training read replays bit-identically while both indexes keep
    * ingesting. Candidate ids fuse across arms, so the two indexes
    * must share an id domain (the corpus contract). */
  def hybridTopKIndexed(s: org.apache.spark.sql.SparkSession,
      bm25Path: String, ivfpqPath: String, termQueries: DataFrame,
      vecQueries: DataFrame, k: Int = 10, kArm: Int = 10,
      rrfK: Int = 60, nProbe: Int = 2,
      lexAsOf: Option[IndexSnapshot] = None,
      denseAsOf: Option[IndexSnapshot] = None): DataFrame = {
    // resolved up front: a malformed conf refuses before any arm runs
    val timeout = Overlap.timeoutOf(s)
    // The two arms are INDEPENDENT (separate indexes, separate query
    // frames) but each serve interleaves driver-side metadata work
    // (bounded collects, the pin jobs) with cluster stages, which
    // serializes them when built inline. Build and MATERIALIZE the
    // arms on two driver threads instead (optimization guide §2.6 —
    // overlap independent jobs: the scheduler happily runs both
    // arms' jobs at once, and each arm's tail back-fills the other's
    // idle slots), then fuse the two pinned batch x kArm frames.
    // Results are bit-identical: each arm is deterministic and the
    // fusion reads only the materialized frames.
    //
    // Threading discipline (NOT ExecutionContext.global): a dedicated
    // 2-thread named pool per serve, a finite loud-refusal await
    // (Overlap.timeoutOf — a hang backstop, conf-raisable), FAIL-FAST
    // on the first arm error (a Promise tripped by either failure, so
    // a fast dense-arm crash is not masked by a long lex arm), and
    // each arm runs under its own job group with interrupt-on-cancel
    // so the surviving sibling's cluster work is cancelled instead of
    // left running ownerless.
    import scala.concurrent.{Await, Future, Promise}
    import scala.util.Failure
    import graft.operators.Stage.PinOps
    Overlap.withPool("graft-hybrid-arm", 2) { implicit ec =>
      val groupId = s"graft-hybrid-${java.util.UUID.randomUUID()}"
      def arm(tag: String)(body: => DataFrame): Future[DataFrame] =
        Future {
          s.sparkContext.setJobGroup(s"$groupId-$tag",
            s"hybrid serve arm: $tag", interruptOnCancel = true)
          try body finally s.sparkContext.clearJobGroup()
        }
      val lexF = arm("lex") {
        TextOps
          .bm25TopKIndexedBatch(s, bm25Path, termQueries, kArm,
            asOf = lexAsOf)
          .select(col("query_id"), col("doc_id").as("cand_id"), col("rk"))
          .pinned
      }
      val denseF = arm("dense") {
        EmbeddingOps
          .ivfpqTopKIndexed(s, ivfpqPath, vecQueries, nProbe, kArm,
            asOf = denseAsOf)
          .select(col("query_id"), col("vec_id").as("cand_id"), col("rk"))
          .pinned
      }
      val both = Promise[(DataFrame, DataFrame)]()
      lexF.onComplete { case Failure(e) => both.tryFailure(e); case _ => }
      denseF.onComplete { case Failure(e) => both.tryFailure(e); case _ => }
      lexF.zip(denseF).onComplete(both.tryComplete)
      val (lex, dense) =
        try Await.result(both.future, timeout)
        catch {
          case e: Throwable =>
            // first failure (or the backstop timeout) wins: cancel
            // BOTH arms' cluster work before surfacing it
            Seq("lex", "dense")
              .foreach(t => s.sparkContext.cancelJobGroup(s"$groupId-$t"))
            throw e
        }
      rrfFuse(lex, dense, k, rrfK)
    }
  }
}
