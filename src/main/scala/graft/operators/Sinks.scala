package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent write-side semantics (SURVEY.md §2.1 S6-S11) as pure
  * DataFrame transforms: the reference's Mongo replace_one upserts and
  * PostgreSQL ON CONFLICT clauses become key-based merge logic that any
  * Spark sink (parquet append / overwrite-partition) can apply.
  *
  * All are shuffle-once-on-the-key operations; at scale the key shuffle
  * is unavoidable (it IS the dedup), but nothing here collects, loops,
  * or re-reads the target more than once.
  */
object Sinks {

  /** S9 (`ON CONFLICT (keys) DO NOTHING`, daily_etl_pipeline.py:154):
    * rows of `incoming` whose key is absent from `existing`, with
    * in-batch duplicates collapsed deterministically (lowest tieBreak
    * wins — Postgres keeps the first arriving row). Result is what an
    * append to the target should contain. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreak).asc)
    incoming
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
  }

  /** S6/S7 (Mongo `replace_one(..., upsert=True)`,
    * curl_spotify_tracker.py:115-130): merged view of existing+incoming
    * keeping the newest version per key (highest versionCol).
    * Contract: versionCol must be strictly increasing across merges for
    * the same key (a sequence number or event time) — on version ties
    * the surviving row among the tied ones is arbitrary. */
  def upsertKeepNewest(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc)
    existing.unionByName(incoming)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** S8 (Mongo `insert_many` with per-doc metadata stamping,
    * utils/database.py:61-109): append-ready frame with the ingestion
    * metadata columns the reference stamps on every stored doc. */
  def stampedForAppend(df: DataFrame, dataSource: String): DataFrame =
    df.withColumn("stored_at", current_timestamp())
      .withColumn("data_source", lit(dataSource))

  /** S11 (`INSERT ... ON CONFLICT (stats_date) DO UPDATE`,
    * daily_etl_pipeline.py:518-570): recompute-and-replace a partition
    * slice — rows of `existing` outside the recomputed partition values
    * `parts` plus all of `recomputed` (the DataFrame form of a
    * `replaceWhere` overwrite, which is how a per-day aggregate upsert
    * should be written at scale). The caller names the values it
    * recomputed, as a `replaceWhere` does, so no job looks them up; rows
    * of `existing` with a null partition value are kept. */
  def replacePartition(existing: DataFrame, recomputed: DataFrame,
      partCol: String, parts: Seq[Any]): DataFrame =
    existing.where(!coalesce(col(partCol).isin(parts: _*), lit(false)))
      .unionByName(recomputed)
}
