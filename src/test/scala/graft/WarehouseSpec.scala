package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Sql, StarSchema, Warehouse}

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** Staging/aside dirs are hidden dot-prefixed SIBLINGS (invisible
    * to Spark's listing and partition discovery). */
  private def hiddenName(path: String, suffix: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    new org.apache.hadoop.fs.Path(p.getParent, "." + p.getName + suffix)
      .toUri.getPath
  }

  test("partitioned fact prunes partitions for date-range predicates") {
    val c = StarSchema.clean(eventsDf((1 to 60).map { i =>
      (i.toLong, (i % 5).toLong, f"2024-01-${1 + i % 6}%02d 10:00:00",
        "play", 1.0, "{}")
    }))
    val dir = Files.createTempDirectory("graft_wh").toString
    Warehouse.writeFact(StarSchema.fact(c), dir)

    // layout: one directory per date_key
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("date_key=")).map(_.getName).sorted
    assert(parts.length == 6)

    val fact = Warehouse.readPublished(spark, dir)
    val slice = Warehouse.lastDays(fact,
      java.time.LocalDate.of(2024, 1, 6), days = 2)
    // correctness of the slice
    assert(slice.select(countDistinct($"date_key")).collect()(0)
      .getLong(0) == 2)
    // pruning is visible in the physical plan's partition filters
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("date_key"), plan.take(500))
  }

  test("lastDays spans month boundaries correctly") {
    val c = StarSchema.clean(eventsDf(Seq(
      (1L, 1L, "2024-01-30 10:00:00", "play", 1.0, "{}"),
      (2L, 1L, "2024-01-31 10:00:00", "play", 1.0, "{}"),
      (3L, 1L, "2024-02-01 10:00:00", "play", 1.0, "{}"),
      (4L, 1L, "2024-02-02 10:00:00", "play", 1.0, "{}"))))
    val fact = StarSchema.fact(c)
    val slice = Warehouse.lastDays(fact,
      java.time.LocalDate.of(2024, 2, 1), days = 3)
    // Jan 30, Jan 31, Feb 1 — the naive integer date_key subtraction
    // (20240201 - 3) would have dropped the two January days
    assert(slice.select($"date_key").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(20240130, 20240131, 20240201))
  }

  test("saveBucketed clears a stray dir under a percent-encoded db location") {
    // a database LOCATION with a space: the catalog reports it
    // percent-encoded (file:/...%20...), and the stray-directory
    // clearing must decode it to find the real path
    val dbDir = Files.createTempDirectory("graft wh enc")
    spark.sql(s"CREATE DATABASE graft_enc_db LOCATION '$dbDir'")
    spark.sql("USE graft_enc_db")
    try {
      // a previous "session" left a table directory with no catalog
      // entry — the LOCATION_ALREADY_EXISTS scenario. Its contents are
      // committer artifacts (a prior managed write), which is the only
      // shape saveBucketed may clear.
      val stray = dbDir.resolve("t_enc")
      Files.createDirectories(stray)
      Files.write(stray.resolve("part-00000-stale.parquet"),
        Array[Byte](1, 2, 3))
      Files.write(stray.resolve("_SUCCESS"), Array.emptyByteArray)
      val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      Warehouse.saveBucketed(df, "t_enc", "k", 2)
      assert(spark.table("t_enc").count() == 10)
      assert(!Files.exists(stray.resolve("part-00000-stale.parquet")))
    } finally {
      spark.sql("USE default")
      spark.sql("DROP DATABASE graft_enc_db CASCADE")
    }
  }

  test("compact rewrites many small files into few, losslessly") {
    val dir = Files.createTempDirectory("graft_compact")
      .resolve("data").toString
    val t = Tables(spark, "/root/testdata/sf0.001")
    val src = t.lineitem.select($"l_orderkey", $"l_extendedprice")
    src.repartition(40).write.parquet(dir)
    val p = new java.io.File(dir)
    val filesBefore = p.listFiles().count(_.getName.startsWith("part-"))
    assert(filesBefore >= 30) // the small-files problem, manufactured
    val n = Warehouse.compact(spark, dir, targetBytes = 1L << 30)
    assert(n == 1)
    val filesAfter = p.listFiles().count(_.getName.startsWith("part-"))
    assert(filesAfter == 1)
    // lossless: same rows, same values
    val after = spark.read.parquet(dir)
    assert(after.count() == src.count())
    assert(after.except(src).count() == 0 && src.except(after).count() == 0)
  }

  test("compact refuses a partitioned layout") {
    val dir = Files.createTempDirectory("graft_compact_part")
      .resolve("data").toString
    val c = StarSchema.clean(eventsDf(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "play", 1.0, "{}"),
      (2L, 1L, "2024-01-02 10:00:00", "play", 1.0, "{}"))))
    Warehouse.writeFact(StarSchema.fact(c), dir)
    val ex = intercept[IllegalArgumentException](
      Warehouse.compact(spark, dir))
    assert(ex.getMessage.contains("partition"), ex.getMessage)
    // untouched
    assert(Warehouse.readPublished(spark, dir).count() == 2)
  }

  test("compactPartitions compacts each leaf losslessly, invisibly to readers") {
    val dir = Files.createTempDirectory("graft_compact_tree")
      .resolve("fact").toString
    val c = StarSchema.clean(eventsDf((1 to 90).map { i =>
      (i.toLong, (i % 7).toLong, f"2024-01-${1 + i % 3}%02d 10:00:00",
        "play", i.toDouble, "{}")
    }))
    // manufacture the small-files problem INSIDE each partition
    StarSchema.fact(c).repartition(12).write
      .partitionBy("date_key").mode("overwrite").parquet(dir)
    val before = Warehouse.readPublished(spark, dir)
    val rows = before.count()
    val values = before.collect().map(_.toString).sorted
    def leafFiles(day: Int) = new java.io.File(s"$dir/date_key=2024010$day")
      .listFiles().count(_.getName.startsWith("part-"))
    assert((1 to 3).forall(leafFiles(_) >= 10))

    val compacted = Warehouse.compactPartitions(spark, dir,
      targetBytes = 1L << 30)
    assert(compacted.keySet ==
      Set("date_key=20240101", "date_key=20240102", "date_key=20240103"))
    assert(compacted.values.forall(_ == 1))
    assert((1 to 3).forall(leafFiles(_) == 1))
    // lossless, partition column intact, no visible staging debris
    val after = Warehouse.readPublished(spark, dir)
    assert(after.count() == rows)
    assert(after.collect().map(_.toString).sorted.sameElements(values))
    val stray = new java.io.File(dir).listFiles()
      .map(_.getName).filterNot(n =>
        n.startsWith("date_key=") || n.startsWith("_") || n.startsWith("."))
    assert(stray.isEmpty, stray.mkString(", "))
    // idempotent: a re-run rewrites to the same file counts
    assert(Warehouse.compactPartitions(spark, dir,
      targetBytes = 1L << 30) == compacted)
    // a flat layout is refused — that is compact()'s job
    val flat = Files.createTempDirectory("graft_flat").resolve("d").toString
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(flat)
    val ex = intercept[IllegalArgumentException](
      Warehouse.compactPartitions(spark, flat))
    assert(ex.getMessage.contains("no partition directories"))

    // a leaf whose PREVIOUS compaction crashed between the renames:
    // the hidden `.col=value.prev` aside contains '=' but must be
    // healed by the leaf's own recovery, never walked as a partition
    val leaf = new org.apache.hadoop.fs.Path(s"$dir/date_key=20240102")
    val fsys = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.rename(leaf,
      new org.apache.hadoop.fs.Path(s"$dir/.date_key=20240102.prev")))
    val recompacted = Warehouse.compactPartitions(spark, dir,
      targetBytes = 1L << 30)
    assert(recompacted == compacted) // same three leaves, healed
    assert(Warehouse.readPublished(spark, dir).count() == rows)
    assert(!new java.io.File(s"$dir/.date_key=20240102.prev").exists())
  }

  test("publishAudited swaps in a passing batch and aborts a failing one") {
    import graft.operators.Checks
    val dir = java.nio.file.Files
      .createTempDirectory("graft_publish").toString + "/tbl"
    val good = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val rows = Warehouse.publishAudited(good, dir,
      Seq("v_positive" -> ($"v" > 0)))
    assert(rows == 2L)
    assert(spark.read.parquet(dir).count() == 2)

    // a failing batch must abort, keep the published data, and leave
    // no staging directory behind
    val bad = Seq((3L, -5.0)).toDF("id", "v")
    val ex = intercept[IllegalStateException](
      Warehouse.publishAudited(bad, dir, Seq("v_positive" -> ($"v" > 0))))
    assert(ex.getMessage.contains("v_positive"), ex.getMessage)
    val published = spark.read.parquet(dir)
    assert(published.count() == 2)
    assert(published.where($"id" === 3L).isEmpty)
    assert(!new java.io.File(hiddenName(dir, ".publish-tmp")).exists())
    assertThrows[IllegalArgumentException](
      Warehouse.publishAudited(good, dir, Seq.empty))

    // an audit that THROWS (rule references a missing column) must
    // also clean up its staging copy and leave the table untouched
    intercept[Exception](Warehouse.publishAudited(good, dir,
      Seq("missing_col" -> ($"no_such_column" > 0))))
    assert(spark.read.parquet(dir).count() == 2)
    assert(!new java.io.File(hiddenName(dir, ".publish-tmp")).exists())
  }

  test("publishAudited stages a partitioned layout; audit sees partition columns") {
    import graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_publish_part")
      .toString + "/fact"
    val df = Seq((1L, 20240101, 5.0), (2L, 20240102, 7.0),
      (3L, 20240102, 9.0)).toDF("id", "date_key", "v")
    val rows = Warehouse.publishAudited(df, dir,
      // the rule references the PARTITION column — provable only
      // because the audit re-reads through partition discovery
      Seq("dk_valid" -> ($"date_key" >= 20240101),
        "v_pos" -> ($"v" > 0)),
      partitionBy = Seq("date_key"))
    assert(rows == 3L)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("date_key=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("date_key=20240101", "date_key=20240102"))
    val back = Warehouse.readPublished(spark, dir)
    assert(back.count() == 3)
    assert(back.where($"date_key" === 20240102).count() == 2)
    // a failing batch aborts without touching the published partitions
    intercept[IllegalStateException](Warehouse.publishAudited(
      Seq((9L, 19990101, 1.0)).toDF("id", "date_key", "v"), dir,
      Seq("dk_valid" -> ($"date_key" >= 20240101)),
      partitionBy = Seq("date_key")))
    assert(Warehouse.readPublished(spark, dir).count() == 3)
  }

  test("publish crash between the swap renames leaves a readable table") {
    // simulate the exact crash window the r5 ADVICE flagged: the old
    // delete-then-rename protocol had an instant with NO readable
    // copy; the rename-aside swap must leave the old data at
    // <path>.prev and the new audited data at the staging dir.
    val base = java.nio.file.Files
      .createTempDirectory("graft_publish_crash").toString + "/tbl"
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    Warehouse.publishAudited(v1, base, Seq("v_pos" -> ($"v" > 0)))
    // the happy path leaves neither staging nor aside dirs behind
    assert(!new java.io.File(hiddenName(base, ".prev")).exists())
    assert(!new java.io.File(hiddenName(base, ".publish-tmp")).exists())

    // stage v2 and crash right after the aside-rename
    val v2 = Seq((3L, 30.0)).toDF("id", "v")
    val p = new org.apache.hadoop.fs.Path(base)
    val tmp = new org.apache.hadoop.fs.Path(hiddenName(base, ".publish-tmp"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    v2.write.mode("overwrite").parquet(tmp.toString)
    val boom = intercept[RuntimeException](
      Warehouse.swapInto(fs, tmp, p,
        failpoint = at => if (at == "aside-renamed")
          throw new RuntimeException("simulated crash")))
    assert(boom.getMessage == "simulated crash")
    // the crash state: old table fully readable at .prev, new audited
    // data fully readable at the staging dir — nothing lost
    assert(spark.read.parquet(hiddenName(base, ".prev")).count() == 2)
    assert(spark.read.parquet(tmp.toString).count() == 1)

    // recovery path 1: the next publish FAILS its audit — the crashed
    // swap must still be healed first, so the OLD table is restored
    // at `path` (not stranded at .prev) and the bad batch is gone
    val bad = Seq((9L, -1.0)).toDF("id", "v")
    intercept[IllegalStateException](
      Warehouse.publishAudited(bad, base, Seq("v_pos" -> ($"v" > 0))))
    val restored = spark.read.parquet(base)
    assert(restored.count() == 2, "old table not restored after crash")
    assert(!new java.io.File(hiddenName(base, ".prev")).exists())
    assert(!new java.io.File(hiddenName(base, ".publish-tmp")).exists())

    // recovery path 2: a PASSING publish swaps the fresh batch in and
    // leaves nothing behind
    Warehouse.publishAudited(v2, base, Seq("v_pos" -> ($"v" > 0)))
    val after = spark.read.parquet(base)
    assert(after.count() == 1 && after.collect()(0).getLong(0) == 3L)
    assert(!new java.io.File(hiddenName(base, ".prev")).exists())
    assert(!new java.io.File(hiddenName(base, ".publish-tmp")).exists())
  }

  test("readPublished self-heals a crashed swap; plain readers need not wait") {
    // same crash window as above, but recovered by a READER: between
    // publishes nothing runs recoverSwap, so a bare
    // spark.read.parquet(path) would see ENOENT until the next
    // publish — readPublished restores .prev itself
    val base = java.nio.file.Files
      .createTempDirectory("graft_reader_heal").toString + "/tbl"
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    Warehouse.publishAudited(v1, base, Seq("v_pos" -> ($"v" > 0)))
    val p = new org.apache.hadoop.fs.Path(base)
    val tmp = new org.apache.hadoop.fs.Path(hiddenName(base, ".publish-tmp"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((3L, 30.0)).toDF("id", "v").write.parquet(tmp.toString)
    intercept[RuntimeException](
      Warehouse.swapInto(fs, tmp, p,
        failpoint = at => if (at == "aside-renamed")
          throw new RuntimeException("simulated crash")))
    assert(!new java.io.File(base).exists()) // the stranded window
    val healed = Warehouse.readPublished(spark, base)
    assert(healed.count() == 2)
    assert(new java.io.File(base).exists())
    assert(!new java.io.File(hiddenName(base, ".prev")).exists())
    // healing is idempotent, and readPublished routes through it
    assert(Warehouse.readPublished(spark, base).count() == 2)
  }

  test("raw SQL entry point matches the DataFrame result (S12)") {
    val dir = "/root/testdata/sf0.001"
    val viaSql = Sql.run(spark, dir,
      "SELECT count(*) AS n FROM lineitem").collect()(0).getLong(0)
    val viaDf = Tables(spark, dir).lineitem.count()
    assert(viaSql == viaDf)
  }
}
