package graft

import org.apache.spark.sql.functions._

import graft.operators.{Constraints, Layout}

/** The publish path (q156 + operators.Layout): layout write
  * determinism (one file per bucket, key-sorted), footer statistics
  * vs ground truth, pruned-scan == full-scan row identity (the
  * operator's whole point), the empty-survivor edge, and the
  * constraint gate refusing a bad batch. */
class LayoutSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_layout_$name")
    d.toFile.deleteOnExit()
    d.toString + "/ds"
  }

  // 2000 rows, key = permuted ids so buckets are NOT in write order,
  // a payload column to carry through the round trip
  private def fixture = spark.range(0, 2000, 1, 8)
    .select(
      pmod(col("id") * 811L + 13L, lit(2000L)).as("key"),
      (col("id") % 7).cast("string").as("tag"),
      (col("id") * 31L).as("payload"))
    .withColumn("bucket", expr("key div 256"))

  test("publish: exactly one file per bucket, rows key-sorted inside, " +
    "footer min/max equal the true per-bucket min/max") {
    val out = tmpDir("det")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    val stats = Layout.rowGroupStats(spark, out, "key")
    // one file per bucket (deterministic layout, no small-file spray)
    val byBucket = stats.groupBy(_.bucket.get)
    assert(byBucket.size === 8) // 2000 keys / 256 per bucket -> buckets 0..7
    byBucket.foreach { case (b, ss) =>
      assert(ss.map(_.path).distinct.size === 1, s"bucket $b file count")
    }
    // footer min/max == ground truth per bucket
    val truth = fixture.groupBy("bucket")
      .agg(min("key").as("mn"), max("key").as("mx"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    byBucket.foreach { case (b, ss) =>
      val (mn, mx, n) = truth(b)
      assert(ss.map(_.min).min === mn, s"bucket $b min")
      assert(ss.map(_.max).max === mx, s"bucket $b max")
      assert(ss.map(_.rowCount).sum === n, s"bucket $b rows")
    }
    // rows are key-sorted within each file (read one file raw)
    val oneFile = stats.head.path
    val keys = spark.read.parquet(oneFile).select("key").as[Long].collect()
    assert(keys.toSeq === keys.sorted.toSeq)
  }

  test("prunedScan returns BIT-IDENTICAL rows to the full-table filter " +
    "for interior, boundary, full and empty key ranges") {
    val out = tmpDir("prune")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    val full = spark.read.parquet(out)
    val ranges = Seq((300L, 900L), (0L, 2000L), (256L, 257L),
      (1999L, 2000L), (5000L, 6000L), (0L, 1L))
    ranges.foreach { case (lo, hi) =>
      val pruned = Layout.prunedScan(spark, out, "key", lo, hi)
        .select("key", "tag", "payload")
        .collect().map(_.toSeq).sortBy(_.toString)
      val direct = full.filter(col("key") >= lo && col("key") < hi)
        .select("key", "tag", "payload")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(pruned.toSeq === direct.toSeq, s"range [$lo,$hi)")
    }
    // pruning actually prunes: an interior range must not read all files
    val stats = Layout.rowGroupStats(spark, out, "key")
    val surv = Layout.survivingFiles(stats, 300L, 400L)
    assert(surv.size === 1, s"[300,400) should touch bucket 1 only: $surv")
    assert(Layout.survivingFiles(stats, 5000L, 6000L).isEmpty)
  }

  test("small parquet.block.size yields multiple row groups per file and " +
    "row-group stats stay sound for pruning") {
    val out = tmpDir("rg")
    // one bucket -> one file; tiny row groups force multiple blocks
    Layout.publish(fixture.withColumn("bucket", lit(0L)), out, "bucket",
      Seq("key"), blockSize = 64L * 1024)
    val stats = Layout.rowGroupStats(spark, out, "key")
    assert(stats.map(_.path).distinct.size === 1)
    // sorted write: row groups cover disjoint, increasing key ranges
    val sorted = stats.sortBy(_.min)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min, s"overlap: $a vs $b")
      case _ =>
    }
    assert(sorted.map(_.rowCount).sum === 2000L)
    assert(sorted.head.min === 0L && sorted.last.max === 1999L)
  }

  test("a footer walk over a missing file throws the FileNotFoundException " +
    "naming it, for one path and for several") {
    val out = tmpDir("missing")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    val files = Layout.rowGroupStats(spark, out, "key").map(_.path).distinct
    assert(files.size >= 4)
    Seq(files.take(1), files.slice(1, 4)).foreach { paths =>
      val gone = paths(paths.size / 2)
      assert(new java.io.File(new java.net.URI(gone).getPath).delete(), gone)
      val e = intercept[java.io.FileNotFoundException] {
        Layout.rowGroupStatsFiles(spark, paths, "key")
      }
      assert(e.getMessage.contains(new java.net.URI(gone).getPath),
        s"${paths.size} paths: ${e.getMessage}")
    }
  }

  test("publishChecked refuses a batch that fails its suite and writes " +
    "NOTHING; a passing suite publishes") {
    val out = tmpDir("gate")
    val dupes = fixture.withColumn("key", col("key") % 10) // Unique fails
    val e = intercept[IllegalStateException] {
      Layout.publishChecked(dupes, out, "bucket", Seq("key"),
        Seq(Constraints.Unique("key")))
    }
    assert(e.getMessage.contains("refusing to publish"))
    assert(e.getMessage.contains("unique:key"))
    assert(!new java.io.File(out).exists(), "refused publish must not write")
    Layout.publishChecked(fixture, out, "bucket", Seq("key"),
      Seq(Constraints.NotNull("key"), Constraints.Unique("key")))
    assert(spark.read.parquet(out).count() === 2000L)
  }

  test("round trip preserves every row and column (checksum identity " +
    "shape of the q156 gate)") {
    val out = tmpDir("rt")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    val h = conv(substring(md5(concat_ws("|",
      col("key"), col("tag"), col("payload"))), 1, 15), 16, 10).cast("long")
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.withColumn("h", h)
        .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(sig(spark.read.parquet(out)) === sig(fixture))
  }

  test("append fragments (one file per bucket per load) and compact heals: " +
    "one sorted file per bucket, contents identical, pruning intact") {
    val out = tmpDir("cmp")
    Layout.publish(fixture.filter(col("key") % 3 === 0), out, "bucket", Seq("key"))
    Layout.append(fixture.filter(col("key") % 3 === 1), out, "bucket", Seq("key"))
    Layout.append(fixture.filter(col("key") % 3 === 2), out, "bucket", Seq("key"))
    val before = Layout.rowGroupStats(spark, out, "key")
    before.groupBy(_.bucket.get).foreach { case (b, ss) =>
      assert(ss.map(_.path).distinct.size === 3, s"bucket $b pre-compact files")
    }
    val report = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(report.size === 8)
    report.foreach { r =>
      assert(r.filesBefore === 3L && r.filesAfter === 1L, s"bucket ${r.bucket}")
    }
    val after = Layout.rowGroupStats(spark, out, "key")
    after.groupBy(_.bucket.get).foreach { case (b, ss) =>
      assert(ss.map(_.path).distinct.size === 1, s"bucket $b post-compact files")
      // merged file is key-sorted (the layout property appends broke
      // ACROSS files is restored WITHIN the single file)
      val keys = spark.read.parquet(ss.head.path).select("key").as[Long].collect()
      assert(keys.toSeq === keys.sorted.toSeq, s"bucket $b sort order")
    }
    // contents identical to the source
    val got = spark.read.parquet(out)
      .select("key", "tag", "payload").collect().map(_.toSeq).toSet
    val want = fixture.select("key", "tag", "payload").collect().map(_.toSeq).toSet
    assert(got === want)
    // pruning still bit-identical to the full filter on compacted files
    val pr = Layout.prunedScan(spark, out, "key", 300L, 700L)
      .select("key").as[Long].collect().sorted.toSeq
    assert(pr === (300L until 700L).toSeq)
  }

  test("compact rewrites ONLY fragmented buckets: untouched buckets keep " +
    "their exact files; a second compact is a no-op with no temp leftovers") {
    val out = tmpDir("sel")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    // fragment bucket 0 only
    Layout.append(fixture.filter(col("key") < 10), out, "bucket", Seq("key"))
    val before = Layout.rowGroupStats(spark, out, "key")
    val untouchedBefore = before.filter(_.bucket.get != 0L).map(_.path).toSet
    val report = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(report.find(_.bucket == 0L).get.filesBefore === 2L)
    assert(report.find(_.bucket == 0L).get.filesAfter === 1L)
    report.filter(_.bucket != 0L).foreach(r =>
      assert(r.filesBefore === 1L && r.filesAfter === 1L))
    val after = Layout.rowGroupStats(spark, out, "key")
    assert(after.filter(_.bucket.get != 0L).map(_.path).toSet === untouchedBefore,
      "untouched buckets must keep their exact files (maintenance ∝ churn)")
    // bucket 0 row count preserved: 256 original + 10 appended
    assert(after.filter(_.bucket.get == 0L).map(_.rowCount).sum === 266L)
    // no-op second pass
    val again = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(again.forall(r => r.filesBefore === 1L && r.filesAfter === 1L))
    assert(!new java.io.File(out.stripSuffix("/") + "_compact_tmp").exists(),
      "no temp dir left behind")
    assert(spark.read.parquet(out).count() === 2010L)
  }

  test("compact CRASH at the worst window — journal written, nothing " +
    "swapped yet: the re-run heals off the journal BEFORE overwriting the " +
    "temp dir, so the merged copies are never destroyed (no data loss)") {
    val out = tmpDir("crash0")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    Layout.append(fixture.filter(col("key") < 300), out, "bucket", Seq("key"))
    val expect = 2300L // 2000 + the 300 appended duplicates
    intercept[IllegalStateException](
      Layout.compactImpl(spark, out, "bucket", Seq("key"), "key",
        128L * 1024 * 1024, crashAfterSwaps = Some(0), crashMidEntry = false))
    // crashed state on disk: journal present, merged files stranded in tmp
    assert(new java.io.File(s"$out/_compact_journal").exists())
    assert(new java.io.File(out.stripSuffix("/") + "_compact_tmp").exists())
    assert(spark.read.parquet(out).count() === expect, "data intact at crash")
    // the re-run must recover, then find nothing left to merge
    val report = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(report.forall(_.filesAfter === 1L), s"fragmentation healed: $report")
    assert(!new java.io.File(s"$out/_compact_journal").exists())
    val back = spark.read.parquet(out)
    assert(back.count() === expect, "recovery loses nothing, duplicates nothing")
    assert(back.filter(col("key") < 300).count() === 600L)
    assert(back.filter(col("key") >= 300).count() === 1700L)
  }

  test("compact CRASH mid-entry — replacement renamed in, old files not " +
    "yet deleted: readers see duplicates transiently, the re-run deletes " +
    "exactly the journaled old files and completes the remaining buckets") {
    val out = tmpDir("crash1")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    Layout.append(fixture.filter(col("key") < 300), out, "bucket", Seq("key"))
    intercept[IllegalStateException](
      Layout.compactImpl(spark, out, "bucket", Seq("key"), "key",
        128L * 1024 * 1024, crashAfterSwaps = Some(0), crashMidEntry = true))
    // mid-swap state: bucket 0 holds old + merged together (duplicates
    // visible — the documented directory-table race), nothing lost
    val mid = spark.read.parquet(out)
    assert(mid.filter(col("key") < 256).count() === 2 * (256L + 256L),
      "bucket 0: old two files AND the merged copy")
    val report = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(report.forall(_.filesAfter === 1L))
    val back = spark.read.parquet(out)
    assert(back.count() === 2300L, "recovery deduplicates the mid-swap state")
    assert(back.filter(col("key") < 300).count() === 600L)
  }

  test("recoverCompact survives a TORN journal (truncated trailing line " +
    "from a crash mid-journal-write): the short line is skipped instead of " +
    "wedging recovery, the journal is cleared, and the next compact heals " +
    "the table normally") {
    val out = tmpDir("torn")
    Layout.publish(fixture, out, "bucket", Seq("key"))
    Layout.append(fixture.filter(col("key") < 300), out, "bucket", Seq("key"))
    // hand-plant a torn journal the way a crash mid-write would leave it:
    // fewer than 4 tab-separated fields on the trailing line (the swaps it
    // would have described never started — the data is untouched)
    val jp = new java.io.File(s"$out/_compact_journal")
    val w = new java.io.FileWriter(jp)
    try w.write("0\t/nonexistent/tmp.parquet") finally w.close()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Layout.recoverCompact(fs, out), "recovery ran (journal existed)")
    assert(!jp.exists(), "torn journal cleared, not wedged")
    assert(spark.read.parquet(out).count() === 2300L, "data untouched")
    // the journal writer itself is now torn-proof: bytes land in a temp
    // sibling and RENAME in, so a half-written journal cannot exist at
    // the final path at all
    Layout.writeJournal(fs, out, Seq(Layout.SwapEntry(0L, "a", "b", Seq("c"))))
    assert(jp.exists())
    assert(Layout.recoverCompact(fs, out))
    val report = Layout.compact(spark, out, "bucket", Seq("key"), "key")
    assert(report.forall(_.filesAfter === 1L), "fragmentation healed")
    assert(spark.read.parquet(out).count() === 2300L)
  }
}
