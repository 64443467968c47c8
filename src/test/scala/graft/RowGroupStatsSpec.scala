package graft

import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** Format 2.3 per-ROW-GROUP manifest statistics (`#stat3`): recorded
  * at staging for multi-row-group files only, consumed by the box
  * scan to DROP a file none of whose row groups can satisfy the whole
  * predicate conjunction — the decision entirely manifest-side (no
  * footer opens at planning), the answers identical to the full
  * filter. */
class RowGroupStatsSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_rg_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  private def fixture = spark.range(0, 20000, 1, 1).select(
    col("id").as("key"), (col("id") * 31L).as("payload"),
    lit(0L).as("bucket"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("a MID-FILE range that file-level stats cannot prune: #stat3 " +
    "recorded at staging (multi-group files only), the file kept by the " +
    "row-group decision, and the box scan equals the full filter") {
    val dir = tmpDir("mid")
    // ONE bucket -> ONE file; tiny blocks -> many row groups over the
    // sorted key; 'key' declared as a stats column so stat2+stat3 record
    Snapshots.publish(fixture, dir, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1, statsCols = Seq("key"))
    val mf = new java.io.File(f"$dir/_manifests/v${1L}%020d")
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
    val rgLines = lines.filter(_.startsWith("#stat3:key:"))
    assert(rgLines.size >= 4,
      s"64KB blocks over 20k sorted rows must yield several row groups " +
        s"(got ${rgLines.size})")
    // the one file covers [0, 20000) and a row group covers the range
    assert(Snapshots.prunedFilesBoxRg(spark, dir, 1L,
      Seq(("key", 5000L, 6000L))).size === 1)
    val pruned = Snapshots.prunedScanAtBox(spark, dir, 1L,
      Seq(("key", 5000L, 6000L)))
    val full = Snapshots.read(spark, dir)
      .filter(col("key") >= 5000L && col("key") < 6000L)
    assert(rows(pruned) === rows(full))
    assert(pruned.count() === 1000L)
    // a range covering only the LAST row group
    val lastLo = 19990L
    assert(Snapshots.prunedScanAtBox(spark, dir, 1L,
      Seq(("key", lastLo, 99999L))).count() === 20000L - lastLo)
  }

  test("a two-predicate box that no single row group satisfies drops the " +
    "file the file-level stats keep, and the scan still equals the full " +
    "filter") {
    val dir = tmpDir("box2")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1,
      statsCols = Seq("key", "payload"))
    // low keys live in the first row groups, high payloads (31 * key)
    // in the last ones: the file's own min/max windows overlap both
    val box = Seq(("key", 0L, 1000L), ("payload", 31L * 19000, 31L * 20000))
    assert(Snapshots.prunedFilesBox(spark, dir, 1L, box).size === 1,
      "file-level stats keep the one file")
    assert(Snapshots.prunedFilesBoxRg(spark, dir, 1L, box).isEmpty,
      "no row group satisfies both predicates: the file drops")
    val scan = Snapshots.prunedScanAtBox(spark, dir, 1L, box)
    val full = Snapshots.read(spark, dir).filter(
      col("key") >= 0L && col("key") < 1000L &&
        col("payload") >= 31L * 19000 && col("payload") < 31L * 20000)
    assert(scan.count() === 0L)
    assert(rows(scan) === rows(full))
  }

  test("degrades conservatively: single-row-group files record NO #stat3 " +
    "lines and read whole; a DV-bearing file answers with the deletes " +
    "applied; a RENAMED column's #stat3 lines resolve through the colmap") {
    val dir = tmpDir("degrade")
    // big blocks -> one row group per file -> no stat3 lines at all
    Snapshots.publish(fixture, dir, "bucket", Seq("key"),
      numTasks = 1, statsCols = Seq("key"))
    val mf1 = new java.io.File(f"$dir/_manifests/v${1L}%020d")
    assert(!scala.io.Source.fromFile(mf1, "UTF-8").getLines()
      .exists(_.startsWith("#stat3:")),
      "single-row-group files must not bloat the manifest with #stat3")
    assert(Snapshots.prunedScanAtBox(spark, dir, 1L,
      Seq(("key", 5000L, 6000L))).count() === 1000L)

    val dir2 = tmpDir("dv")
    Snapshots.publish(fixture, dir2, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1, statsCols = Seq("key"))
    // kill some keys INSIDE the probed range — the scan must subtract them
    val v2 = Snapshots.deleteVectored(
      fixture.filter(col("key") % 100 === 7).select("key", "bucket"),
      dir2, "bucket", Seq("key"))
    val dvScan = Snapshots.prunedScanAtBox(spark, dir2, v2,
      Seq(("key", 5000L, 6000L)))
    assert(dvScan.count() === 1000L - 10L)
    assert(rows(dvScan) === rows(Snapshots.readAt(spark, dir2, v2)
      .filter(col("key") >= 5000L && col("key") < 6000L)))

    // rename: the logical name prunes through the physical-keyed stats
    val dir3 = tmpDir("ren")
    Snapshots.publish(fixture, dir3, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1, statsCols = Seq("key"))
    val v3 = Snapshots.rename(spark, dir3, "key", "k2")
    // two windows the one file spans but no one row group does: only
    // the renamed column's #stat3 lines can drop the file
    val apart = Seq(("k2", 1000L, 2000L), ("k2", 15000L, 16000L))
    assert(Snapshots.prunedFilesBox(spark, dir3, v3, apart).size === 1)
    assert(Snapshots.prunedFilesBoxRg(spark, dir3, v3, apart).isEmpty,
      "the renamed column's stat3 lines resolve via the colmap")
    assert(Snapshots.prunedScanAtBox(spark, dir3, v3, apart).count() === 0L)
    val scan = Snapshots.prunedScanAtBox(spark, dir3, v3,
      Seq(("k2", 5000L, 6000L)))
    assert(scan.columns.contains("k2") && scan.count() === 1000L)
    assert(scan.agg(sum("payload")).head().getLong(0) ===
      (5000L until 6000L).map(_ * 31L).sum)
  }

  test("#stat3 lines CARRY like their #stat2 siblings: a merge keeps the " +
    "untouched files' row-group lines and the rewritten files get fresh " +
    "ones; setProps/rename carry them verbatim") {
    val dir = tmpDir("carry")
    val df = spark.range(0, 20000, 1, 1).select(
      col("id").as("key"), (col("id") * 31L).as("payload"),
      (col("id") % 2).as("bucket"))
    Snapshots.publish(df, dir, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1, statsCols = Seq("key"))
    def rgLines(v: Long): Seq[String] = {
      val mf = new java.io.File(f"$dir/_manifests/v$v%020d")
      scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
        .filter(_.startsWith("#stat3:"))
    }
    val before = rgLines(1L)
    assert(before.nonEmpty)
    // merge rewrites bucket 0 only: bucket 1's lines carry VERBATIM
    val v2 = Snapshots.merge(
      Seq((4L, -1L, 0L)).toDF("key", "payload", "bucket"),
      dir, "bucket", Seq("key"), Seq("key"), blockSize = 64L * 1024)
    val after = rgLines(v2)
    val keptB1 = before.filter(_.contains("__bdir=1"))
    assert(keptB1.nonEmpty && keptB1.forall(after.contains),
      "the untouched bucket's row-group lines carry")
    assert(after.exists(l => !before.contains(l)),
      "the rewritten bucket records fresh row-group lines")
    // metadata-only commits carry everything
    val v3 = Snapshots.setProp(spark, dir, "p", Some("1"))
    assert(rgLines(v3).toSet === after.toSet)
    val v4 = Snapshots.rename(spark, dir, "payload", "pay2")
    assert(rgLines(v4).toSet === after.toSet)
  }

  test("a block with UNUSABLE stats suppresses the whole (file, column) " +
    "#stat3 claim — all-or-nothing: the consumer treats recorded blocks " +
    "as the file's COMPLETE set (all-blocks-fail DROPS the file), so a " +
    "partial recording could silently lose the statless block's rows") {
    val dir = tmpDir("nanblock")
    // ONE sorted file, several 64KB row groups; dval carries a NaN at
    // key 15000 — parquet-mr's double min/max fold poisons that
    // block's stats (blockStat then refuses the NaN claim) while
    // every other block stays clean
    val df = spark.range(0, 20000, 1, 1).select(
      col("id").as("key"),
      when(col("id") === 15000L, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("dval"),
      lit(0L).as("bucket"))
    Snapshots.publish(df, dir, "bucket", Seq("key"),
      blockSize = 64L * 1024, numTasks = 1,
      statsCols = Seq("key", "dval"))
    val mf = new java.io.File(f"$dir/_manifests/v${1L}%020d")
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
    assert(lines.count(_.startsWith("#stat3:key:")) >= 4,
      "the clean column still records its row-group detail")
    assert(!lines.exists(_.startsWith("#stat3:dval:")),
      "ONE unusable block kills the whole column's #stat3 claim " +
        "(per column — key's lines above prove the guard's granularity)")
    assert(!lines.exists(_.startsWith("#stat2:dval:")),
      "the file-level fold refuses the same way (shared walk)")
    // the regression: a predicate matching ONLY rows in the poisoned
    // block — with partial #stat3 recorded, every RECORDED block fails
    // and the file would DROP, silently losing these rows
    assert(Snapshots.prunedScanAtBox(spark, dir, 1L,
        Seq(("dval", 15001.0, 15010.0))).count() === 9L,
      "rows beside the NaN must survive the box scan")
  }
}
