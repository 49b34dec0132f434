package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-scale training-data text operators over the `documents` table:
  * exact + near deduplication (MinHash/LSH, SimHash banding), language
  * identification, quality scoring, token counting, fingerprinting.
  *
  * These go beyond the reference's own surface (SURVEY.md §2 covers its
  * analytics; a 100 TB training-data pipeline additionally needs dedup
  * and text hygiene). Every operator is deterministic so it can be
  * cross-checked against a DuckDB oracle:
  *
  *  - all hashing is `md5` hex (bit-identical across engines);
  *  - set similarity is exact integer intersection/union with ONE final
  *    IEEE division;
  *  - SimHash bits come from exact integer vote sums.
  *
  * Scale design: everything is shuffle-by-key (doc_id / shingle /
  * bucket); candidate generation is LSH-banded so the pair space never
  * goes quadratic; no driver-side collects anywhere.
  */
object TextOps extends TextExtractOps with TextDedupOps with TextIndexOps with TextSelectOps with TextTokenizerOps with TextCurationOps {

  /** (doc_id, pos, word) token stream — posexplode keeps the position
    * so downstream shingling needs no self-join. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))

  /** All 3-word shingles per doc (with repeats), built per-row from
    * the token array with a higher-order transform — no window, no
    * shuffle at all: rows never leave the partition of their document.
    * Consumers that need set semantics dedupe downstream, each at its
    * cheapest representation (a min-aggregate needs no dedup; Jaccard
    * dedupes 8-byte hash surrogates — see [[nearDupMinhash]]). */
  def shinglesRaw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))

  /** Distinct 3-word shingles per doc: [[shinglesRaw]] + one distinct
    * shuffle on (doc_id, s). Kept for callers that need the actual
    * shingle strings as a set. */
  def shingles(docs: DataFrame): DataFrame =
    shinglesRaw(docs).distinct()
}
