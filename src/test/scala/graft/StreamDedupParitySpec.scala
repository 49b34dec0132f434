package graft

import graft.operators.TextOps
import graft.streaming.Streams

/** Streaming/batch parity for the dedup family's exact member: folding
  * per-micro-batch dedupExact increments through
  * [[Streams.dedupExactSink]] must converge to the one-shot batch
  * answer for ANY slicing of the corpus (min/sum are associative and
  * commutative — the property the sink relies on). */
class StreamDedupParitySpec extends SparkSpec {

  test("streaming dedupExact over sliced corpus equals the batch result") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    val expected = TextOps.dedupExact(docs).collect().map(_.toString).sorted

    // slice the corpus into 3 files -> 3 micro-batches
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_state").resolve("state").toString
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.dedupExactSink(stream, statePath,
        java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
  }

  test("streaming minhash signatures over sliced corpus equal the batch table") {
    // the NEAR-dup analog of the exact parity above: signatures are
    // per-doc MIN aggregates, so the per-batch fold (min-merge on the
    // doc key) converges to the batch signature table for any
    // doc-level slicing — and because min is idempotent, a slice
    // RE-DELIVERING earlier docs is a no-op, the property that makes
    // this a dedup state and not just an accumulator.
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val third = (r: Int) => docs.where(pmod($"doc_id", lit(3)) === r)
    val slices = Seq(third(0), third(1), third(2).unionAll(third(0)))

    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_mh_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_mh_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.minhashSink(stream, statePath,
        java.nio.file.Files.createTempDirectory("graft_mh_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    val state = Streams.foldState(spark, statePath)
    // every delivered doc is registered; signature rows (m0 NOT NULL)
    // must equal the one-shot batch signature table exactly
    assert(state.count() == docs.count())
    val got = state.where($"m0".isNotNull).drop("content_hash")
      .collect().map(_.toString).sorted
    val expected = TextOps.minhashSignature(docs)
      .collect().map(_.toString).sorted
    assert(got.length == expected.length,
      s"state ${got.length} sig rows vs batch ${expected.length}")
    assert(got.sameElements(expected))
    // the recorded content hashes are the docs' actual md5s
    val wrongCh = state.join(docs, Seq("doc_id"))
      .where(org.apache.spark.sql.functions.md5($"text") =!=
        $"content_hash").count()
    assert(wrongCh == 0)
  }

  test("minhash sink killed and resumed from checkpoint converges to batch") {
    // run -> stop -> more files land (one re-delivering earlier docs
    // byte-identically) -> NEW query, same checkpoint + statePath:
    // the resumed fold must process only the new files and still
    // converge to the one-shot registry over the distinct corpus
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val first = docs.where($"doc_id" < 25)
    val second = docs.where($"doc_id" >= 25)
      .unionAll(docs.where($"doc_id" < 10)) // byte-identical re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_mh_resume")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_mh_resume_ck").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_mh_resume_st").resolve("st").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.minhashSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
    }
    first.coalesce(1).write.mode("append").parquet(streamDir.toString)
    run() // phase 1, then the query stops ("killed")
    second.coalesce(1).write.mode("append").parquet(streamDir.toString)
    run() // phase 2: fresh query, same checkpoint

    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.minhashRegistry(docs)
      .collect().map(_.toString).sorted
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
    // convergence alone cannot distinguish resume from reprocessing
    // (byte-identical re-delivery is a no-op by design): the state
    // versions prove the resumed query saw ONLY the new file — one
    // batch per phase, so b1 is the highest version ever written
    val versions = new java.io.File(statePath).list().toSeq
      .filter(_.matches("b\\d+"))
    assert(versions.map(_.drop(1).toLong).max == 1L,
      s"resumed query reprocessed committed files: versions $versions")
  }

  test("minhash fold REFUSES a doc re-delivered with different content") {
    // a min-merge over two versions of a doc would store a chimera
    // signature belonging to neither; the sink must fail loudly, not
    // fold (mutable corpora need delete+reload). Case 2 is the subtle
    // path: the re-delivery SHRANK below the 3-token shingle floor,
    // so it carries no signature at all — only the content registry
    // can see the mutation.
    val v1 = docsDf(Seq((1L, "alpha beta gamma delta", "en", "s"),
      (2L, "epsilon zeta eta theta", "en", "s")))
    val mutations = Seq(
      "changed-long" -> docsDf(Seq(
        (1L, "alpha beta gamma CHANGED", "en", "s"))),
      "shrunk-short" -> docsDf(Seq((1L, "alpha beta", "en", "s"))),
      // BOTH versions inside ONE micro-batch: the registry's min
      // aggregate would collapse them before any cross-batch check
      // ran — only the audited (ch_lo, ch_hi) pair can see it
      "in-batch" -> docsDf(Seq(
        (3L, "iota kappa lambda mu", "en", "s"),
        (3L, "iota kappa lambda MUTATED", "en", "s"))))
    mutations.foreach { case (label, v2) =>
      val streamDir =
        java.nio.file.Files.createTempDirectory(s"graft_mh_mut_$label")
      v1.coalesce(1).write.mode("append").parquet(streamDir.toString)
      v2.coalesce(1).write.mode("append").parquet(streamDir.toString)
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_mh_st_$label").resolve("st").toString
      val stream = spark.readStream
        .schema(v1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.minhashSink(stream, statePath,
          java.nio.file.Files
            .createTempDirectory(s"graft_mh_ck_$label").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(180000)
        fail(s"$label: stream finished without refusing the fold")
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(
        _.getMessage.contains("re-delivered with DIFFERENT content")),
        s"$label: " + causes(e).map(_.getMessage).mkString(" | "))
    }
  }

  private def shardDirs(statePath: String, gen: Long): Seq[String] =
    Option(new java.io.File(s"$statePath/b$gen").list()).toSeq.flatten
      .filter(_.startsWith("_shard="))

  test("a single-doc batch rewrites ONLY its key's shard; the rest carry by reference") {
    // the 100 TB property the sharded layout exists for: folding a
    // small batch into a large state must do IO proportional to the
    // BATCH's key shards, not to all state ever accumulated. Batch 0
    // spreads 40 docs over many shards; batch 1 delivers ONE new doc,
    // so its generation dir may contain exactly one shard directory —
    // every other shard is carried forward as a manifest reference
    // into b0's data, not copied
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents.localCheckpoint()
    import spark.implicits._
    val first = docs.where($"doc_id" < 40)
    val second = docsDf(Seq((9001L, "a brand new never seen text", "en", "s")))
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_shard_stream")
    first.coalesce(1).write.mode("append").parquet(streamDir.toString)
    second.coalesce(1).write.mode("append").parquet(streamDir.toString)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_shard_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.dedupExactSink(stream, statePath,
        java.nio.file.Files
          .createTempDirectory("graft_shard_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    val b0 = shardDirs(statePath, 0)
    val b1 = shardDirs(statePath, 1)
    assert(b0.size > 5, s"batch 0 should spread over shards, got $b0")
    assert(b1.size == 1,
      s"a single-doc batch must write exactly its key's shard, got $b1")
    // b0's untouched shards are still the live data (referenced, not
    // copied): the predecessor generation dir survives with its shards
    assert(new java.io.File(s"$statePath/b0").exists())
    // and the assembled state is still exactly the batch answer
    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.dedupExact(first.unionByName(second))
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected))
  }

  test("additive fold: a single-doc batch touches its registry shard + its keys' count shards") {
    // the same bounded-IO property for the kind-discriminated additive
    // state: one d-shard for the doc's registry row plus at most one
    // g-shard per distinct bigram — bounded by the DOCUMENT, never by
    // the accumulated model
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents.localCheckpoint()
    import spark.implicits._
    val first = docs.where($"doc_id" < 40)
    val second = docsDf(Seq((9001L, "aqua borealis aqua", "en", "s")))
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_shard_lm_stream")
    first.coalesce(1).write.mode("append").parquet(streamDir.toString)
    second.coalesce(1).write.mode("append").parquet(streamDir.toString)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_shard_lm_state").resolve("st").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.lmSink(stream, statePath,
        java.nio.file.Files
          .createTempDirectory("graft_shard_lm_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")
    // "aqua borealis aqua" -> bigrams (aqua,borealis), (borealis,aqua)
    // -> at most 2 g-shards + 1 d-shard
    val b1 = shardDirs(statePath, 1)
    assert(b1.size <= 3,
      s"single-doc additive fold touched ${b1.size} shards ($b1); " +
        "must be bounded by the doc's keys, not the model")
    // convergence still exact over the sharded layout
    val got = Streams.lmModelState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.lmModel(first.unionByName(second))
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected))
  }

  test("a resume with a different shard count REFUSES (params sidecar)") {
    // re-homing keys across shards would make every per-shard merge
    // miss its predecessor rows — parameter drift must refuse at bind
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_nshard_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_nshard_ckpt").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_nshard_st").resolve("st").toString
    def run(nShards: Int) = {
      val stream = spark.readStream
        .schema(docs.schema).parquet(streamDir.toString)
      Streams.dedupExactSink(stream, statePath, ckpt, nShards)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    docs.limit(10).write.mode("overwrite").parquet(streamDir.toString)
    assert(run(Streams.DefaultStateShards).awaitTermination(180000))
    docs.limit(20).write.mode("append").parquet(streamDir.toString)
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      run(8).awaitTermination(180000)
      ()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(messages.exists(_.contains("built with parameters")),
      messages.mkString(" | "))
  }

  test("dsirSink REFUSES a resume with a flipped target or drifted modulus") {
    // new docs under a flipped targetSource (or another bucket
    // modulus) are genuinely new — the doc-registry refusal cannot see
    // the drift, so the params sidecar must
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dsirp_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dsirp_ckpt").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dsirp_st").resolve("st").toString
    def run(target: String, nBuckets: Int) = {
      val stream = spark.readStream
        .schema(docs.schema).parquet(streamDir.toString)
      Streams.dsirSink(stream, target, statePath, ckpt, nBuckets)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    docs.limit(10).write.mode("overwrite").parquet(streamDir.toString)
    assert(run("src0", 1024).awaitTermination(180000))
    // the stored parameters are readable, and drift-proof serving
    // reproduces explicit serving under the SAME parameters
    assert(Streams.dsirStateParams(spark, statePath) == ("src0", 1024))
    val viaState = Streams.dsirScoreState(spark, statePath, docs)
      .collect().map(_.toString).sorted
    val explicit = TextOps.dsirWeightWith(docs,
        Streams.dsirDistState(spark, statePath), "src0", 1024)
      .collect().map(_.toString).sorted
    assert(viaState.sameElements(explicit))
    docs.limit(20).write.mode("append").parquet(streamDir.toString)
    Seq("src1" -> 1024, "src0" -> 256).foreach { case (t, nb) =>
      val ex = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        run(t, nb).awaitTermination(180000)
        ()
      }
      val messages = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
        .toSeq
      assert(messages.exists(_.contains("built with parameters")),
        s"($t,$nb): " + messages.mkString(" | "))
    }
  }

  test("a pre-sharding state migrates into shards on the next batch") {
    // a manifest-less predecessor generation is the old layout: the
    // next fold reads it in full, re-homes every row into shards
    // (once), and the batch after that prunes the legacy directory
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    import spark.implicits._
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_migrate_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_migrate_ckpt").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_migrate_st").resolve("st").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.dedupExactSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
    }
    docs.where($"doc_id" < 30).coalesce(1).write.mode("append")
      .parquet(streamDir.toString)
    run()
    // rewrite b0 into the PRE-SHARDING layout: plain parquet, no
    // manifest (the run marker at the root is untouched)
    val state0 = Streams.foldState(spark, statePath).localCheckpoint()
    val b0 = java.nio.file.Paths.get(statePath, "b0")
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree(_))
      java.nio.file.Files.delete(p)
    }
    rmTree(b0)
    state0.write.parquet(b0.toString)
    assert(!new java.io.File(s"$statePath/b0/_shards.json").exists())

    docs.where($"doc_id" >= 30 && $"doc_id" < 60).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    run() // batch 1: migration — full rewrite into shards
    assert(new java.io.File(s"$statePath/b1/_shards.json").exists())
    assert(shardDirs(statePath, 1).nonEmpty)
    val afterMigrate = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected1 = TextOps.dedupExact(docs.where($"doc_id" < 60))
      .collect().map(_.toString).sorted
    assert(afterMigrate.sameElements(expected1))

    docs.where($"doc_id" >= 60 && $"doc_id" < 90).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    run() // batch 2: normal sharded fold; prunes the legacy b0
    assert(!new java.io.File(s"$statePath/b0").exists(),
      "legacy pre-sharding generation should be pruned once unreferenced")
    val after2 = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected2 = TextOps.dedupExact(docs.where($"doc_id" < 90))
      .collect().map(_.toString).sorted
    assert(after2.sameElements(expected2))
  }

  test("a crash-partial generation is overwritten by the replayed batch") {
    // simulate a crash AFTER the data rename but BEFORE the marker:
    // batch 1's generation dir exists with stale shard garbage and no
    // _SUCCESS. The replay (the real batch 1) must delete and rewrite
    // it, and the final state must equal the batch recompute.
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    import spark.implicits._
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_crash_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_crash_ckpt").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_crash_st").resolve("st").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.dedupExactSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
    }
    docs.where($"doc_id" < 30).coalesce(1).write.mode("append")
      .parquet(streamDir.toString)
    run() // batch 0 committed
    // forge the crash debris of a failed batch 1
    val partial = java.nio.file.Paths.get(statePath, "b1", "_shard=0")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.write(partial.resolve("part-00000-stale"),
      Array[Byte](9, 9, 9))
    docs.where($"doc_id" >= 30 && $"doc_id" < 60).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    run() // the real batch 1: must replace the debris wholesale
    assert(new java.io.File(s"$statePath/b1/_SUCCESS").exists())
    assert(!java.nio.file.Files.exists(
      partial.resolve("part-00000-stale")),
      "crash debris survived the replay overwrite")
    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.dedupExact(docs.where($"doc_id" < 60))
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected))
  }

  test("dedupState skips a crash-truncated version (no _SUCCESS)") {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_partial").resolve("state").toString
    val docs = docsDf(Seq((1L, "same text", "en", "s"),
      (2L, "same text", "en", "s"), (3L, "other", "en", "s")))
    val committed = TextOps.dedupExact(docs)
    committed.write.parquet(s"$statePath/b0")
    // simulate a crash mid-write of the next version: a directory with
    // stray task output but no committer _SUCCESS marker
    val partial = java.nio.file.Paths.get(statePath, "b1")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.write(partial.resolve("part-00000-junk"),
      Array[Byte](1, 2, 3))
    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    assert(got.sameElements(committed.collect().map(_.toString).sorted))
  }

  test("a predecessor version without _SUCCESS fails the stream loudly") {
    // a committer configured without success markers must error, not
    // silently fold every batch from empty state
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_nomark_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dedup_nomark_ckpt").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_nomark").resolve("state").toString
    def run() = {
      val stream = spark.readStream
        .schema(docs.schema).parquet(streamDir.toString)
      Streams.dedupExactSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    docs.limit(20).write.mode("overwrite").parquet(streamDir.toString)
    assert(run().awaitTermination(180000))
    // strip the marker off the committed predecessor, then trigger a
    // second batch: its fold must refuse to read b0
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(statePath, "b0", "_SUCCESS"))
    docs.limit(40).write.mode("append").parquet(streamDir.toString)
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      run().awaitTermination(180000)
      ()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(messages.exists(_.contains("_SUCCESS")), messages.mkString(" | "))
  }

  private def failedRun(statePath: String, ckpt: String): Seq[String] = {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_fail_in")
    docs.limit(10).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream
      .schema(docs.schema)
      .parquet(streamDir.toString)
    val q = Streams.dedupExactSink(stream, statePath, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(180000)
      ()
    }
    Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
  }

  test("a marker-less statePath with versions is rejected, not reset") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_stale").resolve("state").toString
    // a prior (pre-marker or foreign) run left committed state; a fresh
    // checkpoint must refuse to fold over it — including the stray-b0
    // case, where version ordering alone (b0 <= batch 0) cannot tell a
    // silent reset from a legitimate first batch
    TextOps.dedupExact(docs).write.parquet(s"$statePath/b0")
    val messages = failedRun(statePath, java.nio.file.Files
      .createTempDirectory("graft_dedup_stale_ckpt").toString)
    assert(messages.exists(_.contains("no run marker")),
      messages.mkString(" | "))
  }

  test("a recreated checkpoint at the SAME path is rejected") {
    // the marker binds to the checkpoint's unique query id, not its
    // path: wiping the checkpoint dir and restarting the same pipeline
    // config restarts batch numbering under a NEW id, and folding its
    // batch 0 from empty would silently discard the old counts
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_rec_in")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_rec").resolve("state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dedup_rec_ckpt").toString
    docs.limit(10).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream
      .schema(docs.schema).parquet(streamDir.toString)
    assert(Streams.dedupExactSink(stream, statePath, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(180000))
    // wipe ONLY the checkpoint (tmp storage lost), keep the state
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree(_))
      java.nio.file.Files.delete(p)
    }
    rmTree(java.nio.file.Paths.get(ckpt))
    val messages = failedRun(statePath, ckpt)
    assert(messages.exists(_.contains("belongs to checkpoint")),
      messages.mkString(" | "))
  }

  test("a statePath owned by another checkpoint is rejected") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dedup_own_in")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dedup_own").resolve("state").toString
    val ckptA = java.nio.file.Files
      .createTempDirectory("graft_dedup_own_ckpt_a").toString
    docs.limit(10).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream
      .schema(docs.schema).parquet(streamDir.toString)
    assert(Streams.dedupExactSink(stream, statePath, ckptA)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(180000))
    // a second pipeline with its OWN fresh checkpoint reuses the path
    val messages = failedRun(statePath, java.nio.file.Files
      .createTempDirectory("graft_dedup_own_ckpt_b").toString)
    assert(messages.exists(_.contains("belongs to checkpoint")),
      messages.mkString(" | "))
  }

  test("streaming LM counts over sliced + re-delivering corpus equal the batch model") {
    // count addition is NOT idempotent, so this is the property the
    // registry anti-join exists for: a slice RE-DELIVERING earlier
    // docs byte-identically must be a no-op, and the folded model must
    // equal the one-shot batch training over the distinct corpus —
    // down to serving: scoring through the maintained model must
    // reproduce lmScore exactly.
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val third = (r: Int) => docs.where(pmod($"doc_id", lit(3)) === r)
    val slices = Seq(third(0), third(1), third(2).unionAll(third(0)))

    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_lm_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_lm_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.lmSink(stream, statePath,
        java.nio.file.Files.createTempDirectory("graft_lm_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    // every delivered doc is registered exactly once
    val state = Streams.foldState(spark, statePath)
    assert(state.where($"kind" === "d").count() == docs.count())
    // the maintained model equals the one-shot batch training
    val got = Streams.lmModelState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.lmModel(docs).collect().map(_.toString).sorted
    assert(got.length == expected.length,
      s"state ${got.length} bigrams vs batch ${expected.length}")
    assert(got.sameElements(expected))
    // and serving through it reproduces the self-trained scorer
    val servedScores =
      TextOps.lmScoreWith(docs, Streams.lmModelState(spark, statePath))
        .collect().map(_.toString).sorted
    val batchScores = TextOps.lmScore(docs)
      .collect().map(_.toString).sorted
    assert(servedScores.sameElements(batchScores))
  }

  test("streaming DSIR distribution over sliced + re-delivering corpus equals batch") {
    // the second additive fold: per-bucket two-sided counts; same
    // registry-anti-join idempotence property as the LM sink, pinned
    // down to serving (weights through the maintained distribution)
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val third = (r: Int) => docs.where(pmod($"doc_id", lit(3)) === r)
    val slices = Seq(third(0), third(1), third(2).unionAll(third(1)))

    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dsir_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dsir_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.dsirSink(stream, "src0", statePath,
        java.nio.file.Files
          .createTempDirectory("graft_dsir_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    val got = Streams.dsirDistState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.dsirDist(docs, "src0")
      .collect().map(_.toString).sorted
    assert(got.length == expected.length,
      s"state ${got.length} buckets vs batch ${expected.length}")
    assert(got.sameElements(expected))
    // serving through the maintained distribution reproduces the
    // self-trained batch weights
    val served = TextOps.dsirWeightWith(docs,
        Streams.dsirDistState(spark, statePath), "src0")
      .collect().map(_.toString).sorted
    val batch = TextOps.dsirWeight(docs, "src0")
      .collect().map(_.toString).sorted
    assert(served.sameElements(batch))
  }

  test("streaming NB model over sliced + re-delivering corpus equals " +
    "batch; serving through the state equals the batch classifier") {
    // the third additive fold: per-word class counts + sentinel-keyed
    // prior rows; unlabeled sources pass through unfolded
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val third = (r: Int) => docs.where(pmod($"doc_id", lit(3)) === r)
    val slices = Seq(third(0), third(1), third(2).unionAll(third(1)))

    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_nb_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_nb_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.nbSink(stream, "src0", "src1", statePath,
        java.nio.file.Files
          .createTempDirectory("graft_nb_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")

    // only labeled docs register; the registry never sees the rest
    val state = Streams.foldState(spark, statePath)
    assert(state.where($"kind" === "d").count() ==
      docs.where($"source".isin("src0", "src1")).count())
    val got = Streams.nbModelState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.nbModel(docs, "src0", "src1")
      .collect().map(_.toString).sorted
    assert(got.length == expected.length,
      s"state ${got.length} words vs batch ${expected.length}")
    assert(got.sameElements(expected))
    // priors fold to the labeled doc counts
    val pri = Streams.nbPriorsState(spark, statePath).head()
    val dp = docs.where($"source" === "src0").count()
    val dn = docs.where($"source" === "src1").count()
    assert(pri.getAs[Long]("d_p") == dp && pri.getAs[Long]("d_n") == dn)
    // drift-proof serving (labels from the sidecar) reproduces the
    // one-shot batch classifier on the unlabeled remainder
    val served = Streams.nbScoreState(spark, statePath,
        docs.where(!$"source".isin("src0", "src1")))
      .collect().map(_.toString).sorted
    val batch = TextOps.nbClassify(docs, "src0", "src1")
      .collect().map(_.toString).sorted
    assert(served.sameElements(batch))
    // and the sidecar pins the label split
    assert(Streams.nbStateParams(spark, statePath) == ("src0", "src1"))
  }

  test("streaming line-df over sliced + re-delivering corpus equals " +
    "batch; state-served line dedup equals the batch operator") {
    // the fourth additive fold: per-line distinct-doc counts; docs
    // carry multi-line text with corpus-wide boilerplate lines
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val docs = docsDf(Tables(spark, "/root/testdata/sf0.001").documents
      .limit(60).collect().map { r =>
        val id = r.getAs[Long]("doc_id")
        val words = r.getAs[String]("text").split(" ").take(20)
        (id,
          "shared header line\n" + words.mkString(" ") +
            "\nshared footer line",
          r.getAs[String]("lang"), r.getAs[String]("source"))
      }.toSeq).localCheckpoint()
    val third = (r: Int) => docs.where(pmod($"doc_id", lit(3)) === r)
    val slices = Seq(third(0), third(1), third(2).unionAll(third(1)))
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_ldf_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ldf_state").resolve("state").toString
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.lineDfSink(stream, statePath,
        java.nio.file.Files
          .createTempDirectory("graft_ldf_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")
    // the maintained table equals one-shot batch counting
    val got = Streams.lineDfState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.lineDf(docs)
      .collect().map(_.toString).sorted
    assert(got.length == expected.length &&
      got.sameElements(expected))
    // serving through the state reproduces the batch operator (the
    // self-trained case: every line is in its own table)
    val served = Streams.dedupLinesState(spark, statePath, docs)
      .collect().map(_.toString).sorted
    val batch = TextOps.dedupLines(docs)
      .collect().map(_.toString).sorted
    assert(served.sameElements(batch))
    // and a FOREIGN batch keeps its unseen lines while the shared
    // boilerplate is scrubbed
    val fresh = docsDf(Seq((9001L,
      "shared header line\ncompletely novel prose\nshared footer line",
      "en", "s")))
    val scrubbed = Streams.dedupLinesState(spark, statePath, fresh)
      .collect().head
    assert(scrubbed.getAs[String]("text_deduped") ==
      "completely novel prose")
  }

  test("DSIR fold REFUSES a doc re-classified to a different source") {
    // the DSIR increment is a function of (text, source): identical
    // text under a flipped source moves counts across the c_t/c_r
    // split, which the additive fold cannot undo — the content hash
    // covers the pair, so this refuses rather than sliding through
    // as byte-identical re-delivery
    val v1 = docsDf(Seq((1L, "alpha beta gamma", "en", "srcX")))
    val v2 = docsDf(Seq((1L, "alpha beta gamma", "en", "src0")))
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_dsir_flip")
    v1.coalesce(1).write.mode("append").parquet(streamDir.toString)
    v2.coalesce(1).write.mode("append").parquet(streamDir.toString)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_dsir_flip_st").resolve("st").toString
    val stream = spark.readStream
      .schema(v1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = Streams.dsirSink(stream, "src0", statePath,
        java.nio.file.Files
          .createTempDirectory("graft_dsir_flip_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[
      org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(180000)
      fail("stream finished without refusing the re-classification")
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(
      _.getMessage.contains("re-delivered with DIFFERENT content")),
      causes(e).map(_.getMessage).mkString(" | "))
  }

  test("LM fold REFUSES a doc re-delivered with different content") {
    // adding the new text's counts while the old text's remain is the
    // double-count a monotone fold cannot undo — refuse, don't guess.
    // The in-batch case matters doubly here: the count branch picks
    // ONE copy per doc (dropDuplicates), so only the registry's
    // (lo, hi) spread — written in the SAME job — can stop a batch
    // whose two copies disagree from committing arbitrary counts.
    val v1 = docsDf(Seq((1L, "alpha beta gamma delta", "en", "s")))
    val cases = Seq(
      "cross-batch" -> Seq(v1, docsDf(Seq(
        (1L, "alpha beta gamma CHANGED", "en", "s")))),
      "in-batch" -> Seq(docsDf(Seq(
        (2L, "iota kappa lambda mu", "en", "s"),
        (2L, "iota kappa lambda MUTATED", "en", "s")))))
    cases.foreach { case (label, files) =>
      val streamDir =
        java.nio.file.Files.createTempDirectory(s"graft_lm_mut_$label")
      files.foreach(_.coalesce(1).write.mode("append")
        .parquet(streamDir.toString))
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_lm_mut_st_$label")
        .resolve("st").toString
      val stream = spark.readStream
        .schema(v1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.lmSink(stream, statePath,
          java.nio.file.Files
            .createTempDirectory(s"graft_lm_mut_ck_$label").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(180000)
        fail(s"$label: stream finished without refusing the fold")
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(
        _.getMessage.contains("re-delivered with DIFFERENT content")),
        s"$label: " + causes(e).map(_.getMessage).mkString(" | "))
    }
  }

  test("compactState collapses the manifest chain; a kill in any window " +
    "leaves readers unchanged; the next batch prunes the old chain") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_compact_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_compact_ck").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_compact_st").resolve("st").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.dedupExactSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
    }
    // three batches so the current manifest references shards spread
    // over multiple generations (each batch re-homes only the shards
    // its hashes touch)
    Seq(docs.where($"doc_id" < 20),
      docs.where($"doc_id" >= 20 && $"doc_id" < 25),
      docs.where($"doc_id" >= 25 && $"doc_id" < 30))
      .foreach(_.coalesce(1).write.mode("append")
        .parquet(streamDir.toString))
    run()
    def manifestGens(gen: Long): Set[Long] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$statePath/b$gen/_shards.json")),
        "UTF-8")
      "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(txt)
        .map(_.group(2).toLong).toSet
    }
    assert(manifestGens(2).size >= 2,
      "fixture did not build a multi-generation chain")
    val before = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted

    // a kill in EACH crash window must leave the readable state
    // unchanged (the main-deleted window exercises the .next heal)
    for (window <- Seq("shards-copied", "next-staged", "main-deleted")) {
      val boom = intercept[RuntimeException] {
        Streams.compactState(spark, statePath,
          fp => if (fp == window) throw new RuntimeException(s"kill@$fp"))
      }
      assert(boom.getMessage.contains(window))
      val after = Streams.foldState(spark, statePath)
        .collect().map(_.toString).sorted
      assert(after.sameElements(before),
        s"state changed after a compaction killed at '$window'")
    }
    // note: the main-deleted kill left .next in place; the heal
    // already promoted it during the read above, which is itself the
    // completed swap — re-running compaction from there is a no-op or
    // a completion, both correct
    Streams.compactState(spark, statePath)
    assert(manifestGens(2) == Set(2L),
      "compacted manifest should reference only the current generation")
    val compacted = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    assert(compacted.sameElements(before))

    // the NEXT batch folds from the compacted generation and its
    // standard prune physically drops the old chain
    docs.where($"doc_id" >= 30 && $"doc_id" < 35).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    run()
    assert(!new java.io.File(s"$statePath/b0").exists() &&
      !new java.io.File(s"$statePath/b1").exists(),
      "pre-compaction generations should be pruned after the next batch")
    val finalState = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.dedupExact(docs.where($"doc_id" < 35))
      .collect().map(_.toString).sorted
    assert(finalState.sameElements(expected))
  }

  test("stateDelete tombstones minhash registry docs: masked at every " +
    "read, applied + cleared by compaction, crash windows leave " +
    "readers unchanged, deleted docs can re-fold after compaction") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_del_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_del_ck").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_del_st").resolve("st").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = Streams.minhashSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
    }
    Seq(docs.where($"doc_id" < 100), docs.where($"doc_id" >= 100))
      .foreach(_.coalesce(1).write.mode("append")
        .parquet(streamDir.toString))
    run()
    val total = docs.count()
    val victims = Seq(3L, 7L)
    Streams.stateDelete(spark, statePath, victims.toDF("doc_id"))
    // masked at read: victims gone, every survivor's signature still
    // equals the batch signature table over the remaining corpus
    val masked = Streams.foldState(spark, statePath).localCheckpoint()
    assert(masked.where($"doc_id".isin(victims: _*)).count() == 0)
    assert(masked.count() == total - victims.length)
    val expectSig = TextOps.minhashSignature(
        docs.where(!$"doc_id".isin(victims: _*)))
      .collect().map(_.toString).sorted
    val gotSig = masked.where($"m0".isNotNull).drop("content_hash")
      .collect().map(_.toString).sorted
    assert(gotSig.sameElements(expectSig))
    // a kill in either application window leaves readers unchanged
    // (before the swap: tombstones still mask; after the swap:
    // already-applied tombstones anti-join to nothing)
    val maskedRows = masked.collect().map(_.toString).sorted
    for (w <- Seq("apply-staged", "apply-swapped")) {
      val boom = intercept[RuntimeException] {
        Streams.compactState(spark, statePath,
          fp => if (fp == w) throw new RuntimeException(s"kill@$w"))
      }
      assert(boom.getMessage.contains(w))
      val after = Streams.foldState(spark, statePath)
        .collect().map(_.toString).sorted
      assert(after.sameElements(maskedRows),
        s"state changed after delete-application killed at '$w'")
    }
    // completion: tombstones applied physically and cleared
    Streams.compactState(spark, statePath)
    assert(!new java.io.File(s"$statePath/dels").exists(),
      "compaction did not clear the tombstone data")
    assert(!new java.io.File(s"$statePath/_dels").exists(),
      "compaction did not clear the tombstone manifest")
    val applied = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    assert(applied.sameElements(maskedRows))
    // after physical removal the registry has no memory of the doc:
    // a re-delivery folds as NEW (deletion is also re-admission —
    // right-to-be-forgotten needs upstream filtering, documented)
    docs.where($"doc_id" === victims.head).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    run()
    assert(Streams.foldState(spark, statePath)
      .where($"doc_id" === victims.head).count() == 1)
  }

  test("streamed full-funnel curate: four folds over a sliced + " +
    "re-delivering corpus serve the same packed output as one-shot " +
    "delivery AND as batch-built models") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat_ws, lit, pmod, size,
      split, sum}
    // multi-line fixture with corpus-wide chrome so the line-excision
    // stage is non-vacuous; real sources so the mix stage has a
    // distribution to flatten
    val fix = Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"source", $"lang",
        concat_ws("\n", lit("subscribe to the newsletter today"),
          $"text", lit("all rights reserved worldwide")).as("text"))
      .localCheckpoint()
    val third = (r: Int) => fix.where(pmod($"doc_id", lit(3)) === r)

    type Sink = (org.apache.spark.sql.DataFrame, String, String) =>
      org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]
    def foldAll(tag: String, slices: Seq[org.apache.spark.sql.DataFrame])
        : Map[String, String] = {
      val streamDir = java.nio.file.Files
        .createTempDirectory(s"graft_funnel_${tag}_in")
      slices.foreach(_.coalesce(1).write.mode("append")
        .parquet(streamDir.toString))
      Seq[(String, Sink)](
        "dx" -> ((d, st, ck) => Streams.dedupExactSink(d, st, ck)),
        "ln" -> ((d, st, ck) => Streams.lineDfSink(d, st, ck)),
        "lm" -> ((d, st, ck) => Streams.lmSink(d, st, ck)),
        "cp" -> ((d, st, ck) => Streams.corpusSink(d, st, ck)))
        .map { case (kind, sink) =>
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft_funnel_${tag}_${kind}_ck")
            .toString
          val statePath = java.nio.file.Files
            .createTempDirectory(s"graft_funnel_${tag}_${kind}_st")
            .resolve("st").toString
          val stream = spark.readStream.schema(fix.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString)
          val q = sink(stream, statePath, ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow())
            .start()
          assert(q.awaitTermination(180000), s"$kind did not finish")
          kind -> statePath
        }.toMap
    }
    // sliced arm: three slices, the last re-delivering earlier docs
    val sliced = foldAll("sl", Seq(third(0), third(1),
      third(2).unionAll(third(0))))
    // one-shot arm: the whole corpus in one batch
    val oneshot = foldAll("os", Seq(fix))

    // lm gate at 4400: this fixture's per-doc nll spans
    // 4083-4706 permille (median ~4366), so both gate arms are live
    def serve(st: Map[String, String]) =
      Streams.curateState(spark, st("dx"), st("ln"), st("lm"),
        st("cp"), fix, lmKeepMilli = 4400L)
        .collect().map(_.toString).sorted
    val viaSliced = serve(sliced)
    val viaOneshot = serve(oneshot)
    assert(viaSliced.nonEmpty, "funnel produced an empty packed corpus")
    assert(viaSliced.sameElements(viaOneshot),
      "sliced delivery diverged from one-shot delivery")

    // and both equal the same composition under BATCH-built models
    // (exact dedup, full-corpus line df, full-corpus bigram LM,
    // full-corpus source totals)
    val keptB = TextOps.dedupExact(fix)
      .select($"kept_doc_id".as("doc_id"))
    val b1 = fix.join(keptB, Seq("doc_id")).localCheckpoint()
    val b2 = b1.drop("text")
      .join(TextOps.dedupLinesWith(b1, TextOps.lineDf(fix))
        .where($"text_deduped" =!= "")
        .select($"doc_id", $"text_deduped".as("text")), Seq("doc_id"))
      .localCheckpoint()
    val b3 = b2.join(TextOps.lmScoreWith(b2, TextOps.lmModel(fix))
      .where($"nll_sum" * 1000 <= $"n_bigrams" * 4400L)
      .select($"doc_id"), Seq("doc_id")).localCheckpoint()
    val bySourceB = fix
      .select($"source", size(split($"text", " ")).cast("long")
        .as("n_tokens"))
      .groupBy($"source").agg(sum($"n_tokens").as("source_tokens"))
    val b4 = b3.join(TextOps.mixTemperatureWith(b3, bySourceB)
      .select($"doc_id"), Seq("doc_id"))
    val viaBatch = TextOps.seqPack(b4, 512L, 200L)
      .collect().map(_.toString).sorted
    assert(viaSliced.sameElements(viaBatch),
      "state-served funnel diverged from batch-built models")
  }

  test("payload-verified subtraction: deleting docs with their original " +
    "content leaves each additive state equal to a fresh fold without " +
    "them; wrong payloads and double-deletes refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .where($"doc_id" < 60).localCheckpoint()
    val victims = docs.where($"doc_id" % 7 === 0).localCheckpoint()
    val rest = docs.where($"doc_id" % 7 =!= 0).localCheckpoint()

    type Sink = (org.apache.spark.sql.DataFrame, String, String) =>
      org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]
    def fold(tag: String, corpus: org.apache.spark.sql.DataFrame,
        sink: Sink): String = {
      val streamDir = java.nio.file.Files
        .createTempDirectory(s"graft_sub_${tag}_in")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_sub_${tag}_ck").toString
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_sub_${tag}_st")
        .resolve("st").toString
      corpus.coalesce(1).write.mode("append").parquet(streamDir.toString)
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val q = sink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), s"$tag did not finish")
      statePath
    }
    def rows(st: String) = Streams.foldState(spark, st)
      .collect().map(_.toString).sorted

    val family: Seq[(String, Sink,
        (String, org.apache.spark.sql.DataFrame) => Unit)] = Seq(
      ("lm", Streams.lmSink(_, _, _),
        (st, d) => Streams.lmStateDelete(spark, st, d)),
      ("tri", Streams.lmTrigramSink(_, _, _),
        (st, d) => Streams.lmTrigramStateDelete(spark, st, d)),
      ("ln", Streams.lineDfSink(_, _, _),
        (st, d) => Streams.lineDfStateDelete(spark, st, d)),
      ("cp", Streams.corpusSink(_, _, _),
        (st, d) => Streams.corpusStateDelete(spark, st, d)),
      ("bm", Streams.bm25Sink(_, _, _),
        (st, d) => Streams.bm25StateDelete(spark, st, d)),
      ("ds", Streams.dsirSink(_, "web", _, _),
        (st, d) => Streams.dsirStateDelete(spark, st, d)))
    family.foreach { case (tag, sink, del) =>
      val full = fold(s"${tag}f", docs, sink)
      del(full, victims)
      val fresh = fold(s"${tag}r", rest, sink)
      assert(rows(full).sameElements(rows(fresh)),
        s"$tag: subtracted state diverged from a fresh fold without " +
          "the deleted docs")
      // double-delete: the registry rows left with the docs — refuse
      val e = intercept[IllegalArgumentException] { del(full, victims) }
      assert(e.getMessage.contains("not in the registry"))
    }

    // wrong payload: identical doc_ids, tampered text — refuse with
    // nothing written
    val lmSt = fold("lmw", docs, Streams.lmSink(_, _, _))
    val before = rows(lmSt)
    val tampered = victims.select($"doc_id",
      concat($"text", lit(" extra")).as("text"), $"source", $"lang")
    val e2 = intercept[IllegalArgumentException] {
      Streams.lmStateDelete(spark, lmSt, tampered)
    }
    assert(e2.getMessage.contains("contradicts the registry"))
    assert(rows(lmSt).sameElements(before))

    // nb: labeled subset only (the sink's own pre-filter applies to
    // the deletion payload identically)
    val srcs = docs.select($"source").distinct().limit(2)
      .collect().map(_.getString(0))
    if (srcs.length == 2) {
      val nbSt = fold("nb", docs, Streams.nbSink(_, srcs(0), srcs(1), _, _))
      Streams.nbStateDelete(spark, nbSt, victims)
      val nbFresh = fold("nbr", rest, Streams.nbSink(_, srcs(0), srcs(1), _, _))
      assert(rows(nbSt).sameElements(rows(nbFresh)))
    }
  }

  test("stateDelete REFUSES additive model folds and aggregate-keyed " +
    "states — subtraction is impossible without per-doc contributions") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .where($"doc_id" < 10).localCheckpoint()
    def build(sink: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row], tag: String): String = {
      val streamDir = java.nio.file.Files
        .createTempDirectory(s"graft_refuse_${tag}_in")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_refuse_${tag}_ck").toString
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_refuse_${tag}_st")
        .resolve("st").toString
      docs.coalesce(1).write.mode("append").parquet(streamDir.toString)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val q = sink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
      statePath
    }
    // additive fold (lm): counts cannot subtract — refuse loudly
    val lmState = build(Streams.lmSink(_, _, _), "lm")
    val e1 = intercept[IllegalArgumentException] {
      Streams.stateDelete(spark, lmState, Seq(1L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("ADDITIVE"))
    // aggregate-keyed state (exact dedup): the surviving min/count
    // under a member's removal is not recoverable — refuse loudly
    val dedupState = build(Streams.dedupExactSink(_, _, _), "dx")
    val e2 = intercept[IllegalArgumentException] {
      Streams.stateDelete(spark, dedupState, Seq(1L).toDF("doc_id"))
    }
    assert(e2.getMessage.contains("keyed by an aggregate"))
  }

  test("delete-EVERYTHING refuses: a sweep that would empty a state " +
    "throws before the swap and leaves it readable") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .where($"doc_id" < 10).localCheckpoint()
    def build(sink: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row], tag: String): String = {
      val streamDir = java.nio.file.Files
        .createTempDirectory(s"graft_delall_${tag}_in")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_delall_${tag}_ck").toString
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_delall_${tag}_st")
        .resolve("st").toString
      docs.coalesce(1).write.mode("append").parquet(streamDir.toString)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val q = sink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), "stream did not finish")
      statePath
    }
    // per-record registry: tombstoning every doc is legal (reads mask
    // to empty), but APPLYING it would commit an empty manifest no
    // reader accepts — compaction must refuse before the swap, and
    // the state must stay readable (still masked-empty) afterward
    val regSt = build(Streams.minhashSink(_, _, _), "mh")
    Streams.stateDelete(spark, regSt, docs.select($"doc_id"))
    assert(Streams.foldState(spark, regSt).count() == 0)
    val e1 = intercept[IllegalArgumentException] {
      Streams.compactState(spark, regSt)
    }
    assert(e1.getMessage.contains("EVERY record"))
    assert(Streams.foldState(spark, regSt).count() == 0,
      "state unreadable after the refused delete-everything compaction")
    // additive fold: subtracting the whole folded corpus refuses
    // likewise, with nothing written
    val lmSt = build(Streams.lmSink(_, _, _), "lm")
    val before = Streams.foldState(spark, lmSt)
      .collect().map(_.toString).sorted
    val e2 = intercept[IllegalArgumentException] {
      Streams.lmStateDelete(spark, lmSt, docs)
    }
    assert(e2.getMessage.contains("EVERY row"))
    val after = Streams.foldState(spark, lmSt)
      .collect().map(_.toString).sorted
    assert(after.sameElements(before),
      "state changed under a refused delete-everything subtraction")

    // the PRE-SHARDING (manifest-less) branch refuses likewise: a
    // legacy flat generation under a whole-corpus subtraction must
    // not be swapped for an empty directory no reader accepts
    val lmFlat = build(Streams.lmSink(_, _, _), "lmflat")
    val genDirs = new java.io.File(lmFlat).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
      .sortBy(_.getName.drop(1).toInt)
    val latest = genDirs.last.toPath
    val flatRows = Streams.foldState(spark, lmFlat).localCheckpoint()
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree(_))
      java.nio.file.Files.delete(p)
    }
    rmTree(latest)
    flatRows.write.parquet(latest.toString)
    assert(!new java.io.File(s"$latest/_shards.json").exists())
    val beforeFlat = Streams.foldState(spark, lmFlat)
      .collect().map(_.toString).sorted
    val e3 = intercept[IllegalArgumentException] {
      Streams.lmStateDelete(spark, lmFlat, docs)
    }
    assert(e3.getMessage.contains("EVERY row"))
    val afterFlat = Streams.foldState(spark, lmFlat)
      .collect().map(_.toString).sorted
    assert(afterFlat.sameElements(beforeFlat),
      "flat state changed under a refused delete-everything subtraction")
  }

  test("a sidecar-less state with committed versions REFUSES to adopt " +
    "the sink's current parameters; adoptStateParams migrates it") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_adopt_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_adopt_ck").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_adopt_st").resolve("st").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      Streams.dedupExactSink(stream, statePath, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    docs.where($"doc_id" < 20).coalesce(1).write.mode("append")
      .parquet(streamDir.toString)
    val q0 = run()
    assert(q0.awaitTermination(180000))
    // simulate a pre-sidecar state: committed versions, no _params
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(statePath, "_params")))
    docs.where($"doc_id" >= 20 && $"doc_id" < 40).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    // the resume must REFUSE rather than write-once-adopt the current
    // configuration as the state's recorded truth
    val q1 = run()
    val boom = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q1.awaitTermination() }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(boom).exists(_.getMessage != null) &&
      causes(boom).exists(c => Option(c.getMessage)
        .exists(_.contains("adoptStateParams"))),
      causes(boom).map(_.getMessage).mkString(" | "))
    // the operator attests the original parameters; the resume then
    // completes and the state converges to the batch answer
    Streams.adoptStateParams(spark, statePath,
      Map("nShards" -> Streams.DefaultStateShards.toString))
    val q2 = run()
    assert(q2.awaitTermination(180000))
    val got = Streams.foldState(spark, statePath)
      .collect().map(_.toString).sorted
    val expected = TextOps.dedupExact(docs.where($"doc_id" < 40))
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected))
  }

  test("streamed corpus data card over sliced + re-delivered corpus " +
    "equals the batch report") {
    // the fifth additive fold: the (source, lang, n_tokens) histogram
    // is the sufficient statistic, so the served card must be
    // column-for-column identical to the one-shot corpusReport —
    // including the min/max/distinct columns that are NOT additive
    // and only derivable because the histogram is
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val slices = Seq(docs.where($"doc_id" < 200),
      docs.where($"doc_id" >= 200)
        .unionAll(docs.where($"doc_id" < 50))) // re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_card_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_card_state").resolve("st").toString
    val q = Streams.corpusSink(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
        statePath,
        java.nio.file.Files
          .createTempDirectory("graft_card_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish")
    val served = Streams.corpusReportState(spark, statePath)
      .collect().map(_.toString).sorted
    val batch = TextOps.corpusReport(docs)
      .collect().map(_.toString).sorted
    assert(served.nonEmpty && served.sameElements(batch))
  }

  test("streamed BM25 statistics over sliced + re-delivered corpus " +
    "equal the batch stats, and cross-serving matches") {
    // the sixth additive fold: (word, df, tok) + sentinel totals is
    // bm25Stats's exact frame, so the maintained state must equal the
    // one-shot build row-for-row AND rank a fresh batch identically
    import spark.implicits._
    val all = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val stored = all.where($"source" =!= "src0")
    val batch = all.where($"source" === "src0")
    val slices = Seq(stored.where($"doc_id" < 250),
      stored.where($"doc_id" >= 250)
        .unionAll(stored.where($"doc_id" < 100))) // re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_bm25_state").resolve("st").toString
    val q = Streams.bm25Sink(
        spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
        statePath,
        java.nio.file.Files
          .createTempDirectory("graft_bm25_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish")
    val servedStats = Streams.bm25StatsState(spark, statePath)
      .collect().map(_.toString).sorted
    val batchStats = TextOps.bm25Stats(stored)
      .collect().map(_.toString).sorted
    assert(servedStats.nonEmpty && servedStats.sameElements(batchStats))
    val terms = Seq("join", "vector", "filter")
    val servedRank = Streams
      .bm25TopKState(spark, statePath, batch, terms)
      .collect().map(_.toString)
    val batchRank = TextOps
      .bm25TopKWith(batch, TextOps.bm25Stats(stored), terms)
      .collect().map(_.toString)
    assert(servedRank.nonEmpty && servedRank.sameElements(batchRank))
    // generation compaction preserves the stats and the ranking
    Streams.compactState(spark, statePath)
    assert(Streams.bm25StatsState(spark, statePath)
      .collect().map(_.toString).sorted.sameElements(batchStats))
    assert(Streams.bm25TopKState(spark, statePath, batch, terms)
      .collect().map(_.toString).sameElements(batchRank))
  }

  test("streamed registry -> persisted MinHash index -> near-dup " +
    "serving equals a batch build") {
    // the text twin of the composed IVF-PQ pipeline: the mutation-
    // guarded minhash registry is the dedup gate in FRONT of index
    // construction — re-delivered docs register once, the registered
    // id set selects what gets indexed, and serving an ingest batch
    // from that index equals serving from a direct build over the
    // distinct stored corpus
    import spark.implicits._
    val all = Tables(spark, "/root/testdata/sf0.001").documents.toDF()
      .localCheckpoint()
    val stored = all.where($"doc_id" % 5 =!= 0)
    val batch = all.where($"doc_id" % 5 === 0)
    val slices = Seq(stored.where($"doc_id" < 250),
      stored.where($"doc_id" >= 250)
        .unionAll(stored.where($"doc_id" < 100))) // re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_e2e_mh_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_e2e_mh_state").resolve("st").toString
    val q = Streams.minhashSink(
        spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
        statePath,
        java.nio.file.Files
          .createTempDirectory("graft_e2e_mh_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish")

    val registered = graft.streaming.Streams.foldState(spark, statePath)
      .select($"doc_id")
    val indexed = all.join(registered, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    assert(indexed.count() == stored.count()) // re-delivery collapsed
    val idx = java.nio.file.Files
      .createTempDirectory("graft_e2e_mh_idx").toString
    TextOps.minhashIndexWrite(indexed, idx)
    val viaStream = TextOps.nearDupServe(spark, idx, batch)
      .collect().map(_.toString).sorted
    val idxBatch = java.nio.file.Files
      .createTempDirectory("graft_e2e_mh_idx_b").toString
    TextOps.minhashIndexWrite(stored, idxBatch)
    val viaBatch = TextOps.nearDupServe(spark, idxBatch, batch)
      .collect().map(_.toString).sorted
    assert(viaStream.nonEmpty && viaStream.sameElements(viaBatch))
  }

  test("serving continuity across LIVE index mutation: deletes and a " +
    "compaction interleave with appends; a serve straight after the " +
    "generation swap equals the batch build, and a compact killed in " +
    "either swap window heals on resume") {
    // the r13 carried gap: the composed registry -> index -> serving
    // spec never mutated the index BETWEEN feeding batches, so a
    // serve landing right after a compaction's generation swap was
    // pinned for fold state but not for the text-index serve path
    import spark.implicits._
    val all = Tables(spark, "/root/testdata/sf0.001").documents.toDF()
      .localCheckpoint()
    val stored = all.where($"doc_id" % 5 =!= 0)
    val batch = all.where($"doc_id" % 5 === 0).localCheckpoint()
    val slice1 = stored.where($"doc_id" < 250).localCheckpoint()
    val slice2 = stored.where($"doc_id" >= 250).localCheckpoint()
    val victims1 = slice1.where($"doc_id" % 7 === 0).select($"doc_id")
    val victims2 = slice2.where($"doc_id" % 7 === 0).select($"doc_id")
    assert(victims1.count() > 0 && victims2.count() > 0)

    // the batch-build answer with every deleted doc absent — the
    // reference every interleaved serve below must equal
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_mut_mh_ref").toString
    TextOps.minhashIndexWrite(
      stored.where($"doc_id" % 7 =!= 0), refIdx)
    val ref = TextOps.nearDupServe(spark, refIdx, batch)
      .collect().map(_.toString).sorted
    assert(ref.nonEmpty)

    // interleave: write seg0, delete within it, append seg1 (the
    // maintenance rhythm a live deployment actually runs), delete
    // within the new segment, serve — tombstones must mask across
    // BOTH segments
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mut_mh_idx").toString
    TextOps.minhashIndexWrite(slice1, idx)
    TextOps.minhashIndexDelete(spark, idx, victims1)
    TextOps.minhashIndexAppend(slice2, idx)
    TextOps.minhashIndexDelete(spark, idx, victims2)
    val masked = TextOps.nearDupServe(spark, idx, batch)
      .collect().map(_.toString).sorted
    assert(masked.sameElements(ref),
      "tombstone-masked serving != batch build without the victims")

    // a compact killed in either swap window leaves the OLD committed
    // generation serving (staged-written: root untouched; the
    // aside-renamed kill leaves no root until a maintainer heals it)
    intercept[RuntimeException] {
      TextOps.minhashIndexCompact(spark, idx,
        fp => if (fp == "staged-written")
          throw new RuntimeException("kill@staged-written"))
    }
    assert(TextOps.nearDupServe(spark, idx, batch)
      .collect().map(_.toString).sorted.sameElements(ref),
      "serving changed after a compact killed before the swap")
    intercept[RuntimeException] {
      TextOps.minhashIndexCompact(spark, idx,
        fp => if (fp == "aside-renamed")
          throw new RuntimeException("kill@aside-renamed"))
    }
    // resume: the next compact heals the crashed swap on entry
    // (recoverSwap), then collapses the 2-segment chain and applies
    // the tombstones physically
    assert(TextOps.minhashIndexCompact(spark, idx) === 2)
    assert(graft.operators.EmbeddingOps.tombstones(spark, idx, "doc_id")
      .count() === 0L)
    // the serve landing IMMEDIATELY after the generation swap — the
    // exact window the gap was about
    val afterCompact = TextOps.nearDupServe(spark, idx, batch)
      .collect().map(_.toString).sorted
    assert(afterCompact.sameElements(ref),
      "serving changed across the compaction generation swap")
    // and the mutated index keeps taking appends afterwards: new docs
    // answer, the forgotten stay gone (fresh ids so no tombstone is
    // re-appended)
    val fresh = batch.select(($"doc_id" + 500000L).as("doc_id"), $"text")
    TextOps.minhashIndexAppend(fresh, idx)
    val again = TextOps.nearDupServe(spark, idx, batch)
      .collect().map(_.toString)
    assert(again.length > ref.length,
      "post-compact append is invisible to serving")
  }

  test("streamed trigram + bigram folds serve the laddered backoff " +
    "exactly as a batch build") {
    // the seventh additive fold paired with the first: both models
    // maintain over the same sliced + re-delivered feed, and the
    // two-state trigram serving equals the batch-trained one
    import spark.implicits._
    val all = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val stored = all.where($"source" =!= "src0")
    val batch = all.where($"source" === "src0")
    val slices = Seq(stored.where($"doc_id" < 250),
      stored.where($"doc_id" >= 250)
        .unionAll(stored.where($"doc_id" < 100))) // re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_tri_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    def drain(mk: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row], tag: String): String = {
      val statePath = java.nio.file.Files
        .createTempDirectory(s"graft_${tag}_state").resolve("st").toString
      val q = mk(spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
          statePath,
          java.nio.file.Files
            .createTempDirectory(s"graft_${tag}_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), s"$tag stream did not finish")
      statePath
    }
    val triState = drain(Streams.lmTrigramSink(_, _, _), "tri")
    val biState = drain(Streams.lmSink(_, _, _), "bi")
    val served = Streams
      .lmScoreTrigramState(spark, triState, biState, batch)
      .collect().map(_.toString).sorted
    val direct = TextOps.lmScoreTrigramWith(batch,
      TextOps.lmTrigramModel(stored), TextOps.lmModel(stored))
      .collect().map(_.toString).sorted
    assert(served.nonEmpty && served.sameElements(direct))
  }

  test("streamed registry -> persisted BM25 index -> retrieval serving " +
    "equals a batch build, through an incremental append") {
    // the retrieval twin of the MinHash composition: the mutation-
    // guarded registry dedups an at-least-once feed in FRONT of the
    // (registry-free) bm25IndexAppend, and serving from the
    // incrementally-built index equals one batch build over the
    // distinct stored corpus
    import spark.implicits._
    val all = Tables(spark, "/root/testdata/sf0.001").documents.toDF()
      .localCheckpoint()
    val first = all.where($"doc_id" < 250)
    val second = all.where($"doc_id" >= 250)
    val slices = Seq(first,
      second.unionAll(first.where($"doc_id" < 100))) // re-delivery
    val streamDir =
      java.nio.file.Files.createTempDirectory("graft_e2e_bm_stream")
    slices.foreach(_.coalesce(1).write.mode("append")
      .parquet(streamDir.toString))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_e2e_bm_state").resolve("st").toString
    val q = Streams.dedupExactSink(
        spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString),
        statePath,
        java.nio.file.Files
          .createTempDirectory("graft_e2e_bm_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish")
    // each registered batch appends exactly its NEW docs: replay the
    // gate per slice (the registry keeps first delivery's doc set)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_e2e_bm_idx").resolve("ix").toString
    TextOps.bm25IndexWrite(first, idx)
    val registered = graft.streaming.Streams.foldState(spark, statePath)
      .select($"kept_doc_id".as("doc_id"))
    val newDocs = second.join(registered, Seq("doc_id"), "left_semi")
    TextOps.bm25IndexAppend(newDocs, idx)
    val terms = Seq("join", "vector", "filter")
    val viaStream = TextOps.bm25TopKIndexed(spark, idx, terms)
      .collect().map(_.toString)
    val direct = TextOps.bm25TopK(all, terms).collect().map(_.toString)
    assert(viaStream.nonEmpty && viaStream.sameElements(direct))
  }

  test("profileSink: sliced + re-delivering folds serve batch-identical " +
    "heavy hitters and exact NDV; sidecar-bound deletion subtracts a " +
    "doc's melt exactly; a resume with a different column list refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      lit, pmod}
    val fix = Tables(spark, "/root/testdata/sf0.001").documents
      .localCheckpoint()
    val cols = Seq("source", "lang")
    val third = (r: Int) => fix.where(pmod($"doc_id", lit(3)) === r)
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft_profile_in")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_profile_ck").toString
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_profile_st").resolve("st").toString
    def run(c: Seq[String], ck: String = ckpt) = {
      val stream = spark.readStream.schema(fix.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      Streams.profileSink(stream, c, statePath, ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    // three slices, the last RE-DELIVERING slice 0 byte-identically
    Seq(third(0), third(1), third(2).unionAll(third(0))).foreach(
      _.coalesce(1).write.mode("append").parquet(streamDir.toString))
    assert(run(cols).awaitTermination(180000))
    assert(Streams.profileStateCols(spark, statePath) == cols)
    // heavy hitters served from state == the batch operator on the
    // deduped corpus (re-delivery folded exactly once)
    val viaState = Streams.heavyHittersState(spark, statePath, k = 5)
      .collect().map(_.toString).sorted
    val viaBatch = graft.operators.Checks.heavyHitters(fix, cols, k = 5)
      .collect().map(_.toString).sorted
    assert(viaState.nonEmpty && viaState.sameElements(viaBatch),
      "state-served heavy hitters diverge from the batch operator")
    // exact NDV derives from the same state
    val ndvState = Streams.profileValueState(spark, statePath)
      .groupBy($"col_name").agg(count(lit(1)).as("ndv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ndvBatch = cols.map(c => c ->
      fix.where(col(c).isNotNull).agg(countDistinct(col(c)))
        .collect()(0).getLong(0)).toMap
    assert(ndvState == ndvBatch)
    // sidecar-bound subtraction: deleting slice 1 leaves the state
    // equal to the batch operator over the complement
    Streams.profileStateDelete(spark, statePath, third(1))
    val afterDel = Streams.heavyHittersState(spark, statePath, k = 5)
      .collect().map(_.toString).sorted
    val complement = graft.operators.Checks.heavyHitters(
        fix.where(pmod($"doc_id", lit(3)) =!= 1), cols, k = 5)
      .collect().map(_.toString).sorted
    assert(afterDel.sameElements(complement),
      "deletion did not subtract the slice's melt exactly")
    // a resume folding NEW docs under a DIFFERENT column list must
    // refuse at bind — the registry cannot catch a drifted melt
    fix.limit(7).withColumn("doc_id", $"doc_id" + 900000L)
      .coalesce(1).write.mode("append").parquet(streamDir.toString)
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Seq("lang")).awaitTermination(180000)
      ()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .toSeq
    assert(messages.exists(_.contains("built with parameters")),
      messages.mkString(" | "))
    // column names that would not round-trip through the
    // comma-joined _params value (',', '=', newlines) refuse at
    // construction — a smuggled separator would make
    // profileStateDelete melt a DIFFERENT column set than the sink
    // folded and silently corrupt the subtraction
    Seq("a,b", "a=b", "a\nb", "a\rb", "").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Streams.profileSink(fix, Seq(bad), statePath, ckpt)
      }
      assert(e.getMessage.contains("_params sidecar") ||
        e.getMessage.contains("non-empty"), s"<$bad>: ${e.getMessage}")
    }
  }
}
