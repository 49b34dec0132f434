package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.TextOps

/** The BM25 index's per-segment term dictionary (`_tdict`) and the
  * multi-term serving doors built on it: prefix/LIKE resolution must
  * equal brute-force vocabulary filtering through every lifecycle
  * step (append, delete, compact, merge), the multi-term serve must
  * equal the literal-terms serve over the resolved set, and the
  * resolution collect must stay capped. */
class TermDictSpec extends SparkSpec {

  private val corpus = docsDf(Seq(
    (1L, "spark stream sort spark", "en", "a"),
    (2L, "scan small joins merge", "en", "a"),
    (3L, "vector filter window order", "en", "b"),
    (4L, "sort order group window", "en", "b"),
    (5L, "stream stream scan key", "en", "c")))

  private def vocab(docs: DataFrame): Set[String] = {
    import org.apache.spark.sql.functions.{explode, split}
    docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
  }

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toString + "/ix"

  test("prefix and LIKE resolution equal brute-force vocabulary filtering; the multi-term serve equals the literal-terms serve") {
    val root = tmpRoot("tdict")
    TextOps.bm25IndexWrite(corpus, root, nBuckets = 8)

    val v = vocab(corpus)
    assert(TextOps.termsMatchingPrefix(spark, root, "s") ==
      v.filter(_.startsWith("s")).toSeq.sorted)
    assert(TextOps.termsMatchingPrefix(spark, root, "so") == Seq("sort"))
    assert(TextOps.termsMatchingPrefix(spark, root, "zz") == Seq.empty)
    assert(TextOps.termsMatchingLike(spark, root, "%or%") ==
      v.filter(_.contains("or")).toSeq.sorted)

    val byPrefix = TextOps.bm25TopKPrefix(spark, root, "s")
      .collect().map(_.toString).sorted
    val byTerms = TextOps.bm25TopKIndexed(spark, root,
        TextOps.termsMatchingPrefix(spark, root, "s"))
      .collect().map(_.toString).sorted
    assert(byPrefix.sameElements(byTerms),
      "the prefix serve is the literal serve over the resolved terms")
    assert(byPrefix.nonEmpty)

    // a prefix matching nothing serves an empty frame, not an error
    assert(TextOps.bm25TopKPrefix(spark, root, "zz").collect().isEmpty)

    // fuzzy resolution: one edit reaches substitutions, insertions,
    // and deletions; distance 0 is exact membership
    assert(TextOps.termsMatchingFuzzy(spark, root, "sort") ==
      Seq("sort"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "sord") ==
      Seq("sort"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "windo") ==
      Seq("window"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "ordered",
      maxDist = 2) == Seq("order"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "scan",
      maxDist = 0) == Seq("scan"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "qqq") == Seq.empty)
    val byFuzzy = TextOps.bm25TopKFuzzy(spark, root, "sord")
      .collect().map(_.toString).sorted
    assert(byFuzzy.sameElements(TextOps.bm25TopKIndexed(spark, root,
      Seq("sort")).collect().map(_.toString).sorted))

    // batched prefix serving: per query the ranked rows equal the
    // single serve in order; an unmatched prefix contributes zero rows
    val batch = TextOps.bm25TopKPrefixBatch(spark, root,
        Seq((0L, "s"), (1L, "wi"), (2L, "zz")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    Seq("s", "wi", "zz").zipWithIndex.foreach { case (pfx, qid) =>
      val single = TextOps.bm25TopKPrefix(spark, root, pfx)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq
      val got = batch.filter(_._1 == qid).sortBy(_._2).map(_._3).toSeq
      assert(got == single,
        s"batched prefix q$qid ('$pfx') must equal the single serve")
    }
  }

  test("the dictionary follows the lifecycle: append adds vocabulary, compaction drops tombstoned orphans, merge carries shard dicts") {
    val root = tmpRoot("tdict_life")
    TextOps.bm25IndexWrite(corpus.where(col("doc_id") <= 3), root,
      nBuckets = 8)
    assert(TextOps.termsMatchingPrefix(spark, root, "g") == Seq.empty)

    TextOps.bm25IndexAppend(corpus.where(col("doc_id") > 3), root)
    assert(TextOps.termsMatchingPrefix(spark, root, "g") == Seq("group"),
      "an appended segment's dictionary must serve immediately")

    // doc 5 is the only holder of "key": tombstone it — the word
    // stays in the dict (drift contract) but serves no postings;
    // compaction regenerates the dict from survivors and drops it
    import spark.implicits._
    graft.operators.EmbeddingOps.indexDelete(spark, root,
      Seq(5L).toDF("doc_id"), keyCol = "doc_id")
    assert(TextOps.termsMatchingPrefix(spark, root, "k") == Seq("key"),
      "tombstoned vocabulary stays until compaction, like the totals")
    assert(TextOps.bm25TopKPrefix(spark, root, "k").collect().isEmpty,
      "serving a tombstoned-only term finds no live postings")
    assert(TextOps.bm25IndexCompact(spark, root) > 0)
    assert(TextOps.termsMatchingPrefix(spark, root, "k") == Seq.empty,
      "compaction drops orphan vocabulary")
    assert(TextOps.termsMatchingPrefix(spark, root, "g") == Seq("group"))

    // shard-parallel builds merge with their dictionaries riding the
    // segment renames — the merged root resolves the union vocabulary
    val parent = java.nio.file.Files
      .createTempDirectory("graft_tdict_merge").toString
    val shards = (0 until 2).map { i =>
      val sp = s"$parent/shard$i"
      TextOps.bm25IndexWrite(corpus.where(col("doc_id") % 2 === i), sp,
        nBuckets = 8)
      sp
    }
    TextOps.bm25IndexMerge(spark, shards, s"$parent/merged")
    assert(TextOps.termsMatchingPrefix(spark, s"$parent/merged", "s") ==
      vocab(corpus).filter(_.startsWith("s")).toSeq.sorted)
  }

  test("a prefix predicate pushes into the dict's parquet scan (the sorted layout's row-group pruning depends on it)") {
    val root = tmpRoot("tdict_push")
    TextOps.bm25IndexWrite(corpus, root, nBuckets = 8)
    val plan = TextOps.dictScan(spark, root, None)
      .where(col("word").startsWith("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(word,s)"),
      s"StringStartsWith must reach PushedFilters:\n$plan")
  }

  test("resolution refuses past the cap and guides a legacy root without the sidecar") {
    val root = tmpRoot("tdict_cap")
    TextOps.bm25IndexWrite(corpus, root, nBuckets = 8)

    val e = intercept[IllegalArgumentException] {
      TextOps.termsMatchingPrefix(spark, root, "s", cap = 2)
    }
    assert(e.getMessage.contains("more than 2 index terms"))
    assert(TextOps.termsMatchingPrefix(spark, root, "s", cap = 64)
      .nonEmpty)
    // the bounded probe's +1 saturates: cap = Int.MaxValue resolves
    // like the default cap on every resolution door and the serve
    val max = Int.MaxValue
    assert(TextOps.termsMatchingPrefix(spark, root, "s", cap = max) ==
      TextOps.termsMatchingPrefix(spark, root, "s"))
    assert(TextOps.termsMatchingLike(spark, root, "%or%", cap = max) ==
      TextOps.termsMatchingLike(spark, root, "%or%"))
    assert(TextOps.termsMatchingFuzzy(spark, root, "sord", cap = max) ==
      TextOps.termsMatchingFuzzy(spark, root, "sord"))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val dflt = rows(TextOps.bm25TopKPrefix(spark, root, "s"))
    assert(dflt.nonEmpty, "the fixture prefix must match")
    assert(rows(TextOps.bm25TopKPrefix(spark, root, "s", cap = max)) ==
      dflt)

    val e2 = intercept[IllegalArgumentException] {
      TextOps.termsMatchingPrefix(spark, root, "")
    }
    assert(e2.getMessage.contains("empty prefix"))

    // a legacy segment predating the sidecar refuses with guidance
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root,
      "postings/seg=0/_tdict"), true)
    val e3 = intercept[IllegalArgumentException] {
      TextOps.termsMatchingPrefix(spark, root, "s")
    }
    assert(e3.getMessage.contains("rebuild or compact the index"))
  }
}
