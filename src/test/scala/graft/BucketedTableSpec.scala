package graft

import org.apache.spark.sql.functions._

import graft.operators.{BucketedTable, Snapshots}

/** Partition evolution on snapshot tables: width changes are
  * metadata-only, merge picks its rewrite set from manifest stats
  * (epoch-independent and finer than bucket matching), pruned scans
  * cross epoch boundaries unchanged, and compact migrates old epochs
  * without fragmenting occupied landing buckets. */
class BucketedTableSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_bkt_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  // keys 0..899 permuted; NO bucket column — the table derives it
  private def fixture = spark.range(0, 900, 1, 4)
    .select(
      pmod(col("id") * 811L + 13L, lit(900L)).as("key"),
      (col("id") * 31L).as("payload"))

  test("after a payload rename EVERY width write keeps the renamed column " +
    "readable and the #colmap line: append, evolve, evolve + compact, merge") {
    // key -> payload of the fixture (payload = 31 × the row's position)
    val base = fixture.select("key", "payload").as[(Long, Long)].collect()
      .map { case (k, p) => k.toString -> p }.toMap
    val cases: Seq[(String, String => Unit, Map[String, Long])] = Seq(
      ("append", d => BucketedTable.append(spark.range(900, 920)
        .select(col("id").as("key"), (col("id") * 2L).as("pl")), d),
        base ++ (900 until 920).map(k => k.toString -> k * 2L)),
      ("evolveWidth", d => BucketedTable.evolveWidth(spark, d, 100L), base),
      ("evolveWidth + compact", { d =>
        BucketedTable.evolveWidth(spark, d, 100L); BucketedTable.compact(spark, d)
      }, base),
      ("merge", d => BucketedTable.merge(Seq((7L, -5L)).toDF("key", "pl"), d,
        Seq("key")), base + ("7" -> -5L)))
    RenameCarry.all(cases.map { case (what, write, want) => what -> { () =>
      val dir = tmpDir("renw")
      BucketedTable.publish(fixture, dir, "key", 300L)
      Snapshots.rename(spark, dir, "payload", "pl")
      write(dir)
      RenameCarry.check(spark, dir, BucketedTable.read(spark, dir), "key", "pl",
        want, what)
    }})
  }

  private def keysAt(dir: String, v: Long): Seq[Long] =
    BucketedTable.readAt(spark, dir, v).select("key").as[Long]
      .collect().sorted.toSeq

  test("publish/append at W1, EVOLVE to W2 (metadata-only: same files, " +
    "same stats), append at W2 — every version reads exactly its rows and " +
    "the per-file epoch census is manifest-only") {
    val dir = tmpDir("evo")
    val v1 = BucketedTable.publish(fixture.filter(col("key") % 3 === 0),
      dir, "key", 300L)
    val v2 = BucketedTable.append(fixture.filter(col("key") % 3 === 1), dir)
    val v3 = BucketedTable.evolveWidth(spark, dir, 100L)
    val v4 = BucketedTable.append(fixture.filter(col("key") % 3 === 2), dir)
    assert((v1, v2, v3, v4) === (1L, 2L, 3L, 4L))
    assert(keysAt(dir, 1) === (0L until 900L by 3))
    assert(keysAt(dir, 2) === (0L until 900L).filter(_ % 3 <= 1))
    assert(keysAt(dir, 3) === keysAt(dir, 2), "evolution changes no rows")
    assert(keysAt(dir, 4) === (0L until 900L))
    // metadata-only: v3 lists exactly v2's files
    assert(Snapshots.files(spark, dir, 3) === Snapshots.files(spark, dir, 2))
    assert(BucketedTable.currentWidth(spark, dir) === ("key", 100L))
    // epoch census: v2's 6 files at 300, v4 adds 9 files at 100
    val fw4 = BucketedTable.fileWidths(spark, dir, 4)
    assert(fw4.values.count(_ == 300L) === 6)
    assert(fw4.values.count(_ == 100L) === 9)
    assert(fw4.size === Snapshots.files(spark, dir, 4).size)
    // the derived bucket column never leaks into reads
    assert(!BucketedTable.read(spark, dir).columns.contains(BucketedTable.BCol))
  }

  test("MERGE ACROSS EPOCHS: the rewrite set comes from manifest stats " +
    "(files whose key range intersects the update keys), rewritten rows " +
    "land at the CURRENT width, untouched files of every epoch are shared " +
    "byte-for-byte") {
    val dir = tmpDir("mrg")
    BucketedTable.publish(fixture.filter(col("key") % 3 === 0), dir, "key", 300L)
    BucketedTable.append(fixture.filter(col("key") % 3 === 1), dir)
    BucketedTable.evolveWidth(spark, dir, 100L)
    BucketedTable.append(fixture.filter(col("key") % 3 === 2), dir)
    val before = Snapshots.files(spark, dir, 4)
    // updates span BOTH epochs' files but only keys < 300
    val upd = fixture.filter(col("key") < 300 && col("key") % 7 === 0)
      .withColumn("payload", lit(-5L))
    val v5 = BucketedTable.merge(upd, dir, Seq("key"))
    assert(v5 === 5L)
    val got = BucketedTable.read(spark, dir)
      .select("key", "payload").as[(Long, Long)].collect().toMap
    assert(got.size === 900)
    (0L until 300L).foreach { k =>
      if (k % 7 == 0) assert(got(k) === -5L, s"key $k modified")
      else assert(got(k) !== -5L, s"key $k untouched")
    }
    // time travel across the epoch-spanning merge
    assert(keysAt(dir, 4) === (0L until 900L))
    assert(BucketedTable.readAt(spark, dir, 4)
      .filter(col("payload") === -5L).count() === 0L)
    // untouched files shared: every before-file whose range misses
    // [0,300) survives verbatim (W1 files: key-300 bucket 0 files
    // touched; W2 epoch: buckets 0..2 touched)
    val after = Snapshots.files(spark, dir, 5).toSet
    val fw = BucketedTable.fileWidths(spark, dir, 4)
    val untouched = before.filter { f =>
      val b = Snapshots.fileBucket(f).get
      val w = fw(f)
      b * w >= 300L // file's key range starts at/after 300
    }
    assert(untouched.forall(after.contains),
      "every file outside the update range is shared byte-for-byte")
    // touched files gone from the new version
    assert(before.filterNot(untouched.contains).forall(f => !after.contains(f)))
    // rewritten rows landed at the current width (epoch census)
    val fw5 = BucketedTable.fileWidths(spark, dir, 5)
    val newFiles = after -- before.toSet
    assert(newFiles.nonEmpty && newFiles.forall(f => fw5(f) === 100L))
  }

  test("COMPACT is the migrator: old-epoch files fold into the current " +
    "width, current-epoch files in LANDING buckets join the rewrite (no " +
    "fragmentation created), already-migrated buckets keep their exact " +
    "files, and a second compact is a no-op") {
    val dir = tmpDir("cmp")
    BucketedTable.publish(fixture.filter(col("key") % 3 === 0), dir, "key", 300L)
    BucketedTable.append(fixture.filter(col("key") % 3 === 1), dir)
    BucketedTable.evolveWidth(spark, dir, 100L)
    BucketedTable.append(fixture.filter(col("key") % 3 === 2), dir)
    // migrate a slice first so some W2 buckets are already clean:
    // merge keys < 100 -> W2 bucket 0 fully current afterwards
    BucketedTable.merge(fixture.filter(col("key") < 100)
      .withColumn("payload", lit(-9L)), dir, Seq("key"))
    val preFiles = Snapshots.files(spark, dir, 5).toSet
    val fwPre = BucketedTable.fileWidths(spark, dir, 5)
    val v6 = BucketedTable.compact(spark, dir)
    assert(v6 === 6L)
    // all files now current-epoch, exactly one per occupied bucket
    val fw6 = BucketedTable.fileWidths(spark, dir, 6)
    assert(fw6.values.forall(_ === 100L), "every file migrated")
    val files6 = Snapshots.files(spark, dir, 6)
    assert(files6.size === 9, "900 keys / width 100 = 9 buckets, 1 file each")
    assert(files6.groupBy(Snapshots.fileBucket).forall(_._2.size == 1))
    // bucket 0 was already clean (single current-epoch file, no stale
    // data lands there): its exact file survives the compact
    val clean0 = preFiles.filter(f => fwPre(f) == 100L &&
      Snapshots.fileBucket(f).contains(0L))
    assert(clean0.size === 1)
    assert(files6.toSet.intersect(clean0) === clean0,
      "already-migrated bucket keeps its exact file")
    // content identical across the migration
    assert(keysAt(dir, 6) === keysAt(dir, 5))
    val pay = BucketedTable.read(spark, dir)
      .filter(col("key") < 100).select("payload").as[Long].collect()
    assert(pay.length === 100 && pay.forall(_ === -9L))
    // idempotent
    assert(BucketedTable.compact(spark, dir) === 6L)
  }

  test("PRUNED SCANS cross epoch boundaries unchanged (stats, not bucket " +
    "arithmetic): same rows as the filtered read at a mixed-epoch version " +
    "AND after migration") {
    val dir = tmpDir("prn")
    BucketedTable.publish(fixture.filter(col("key") % 3 === 0), dir, "key", 300L)
    BucketedTable.evolveWidth(spark, dir, 100L)
    BucketedTable.append(fixture.filter(col("key") % 3 =!= 0), dir)
    val v4 = BucketedTable.compact(spark, dir)
    for (v <- Seq(3L, v4); (lo, hi) <- Seq((50L, 250L), (0L, 2000L), (5000L, 6000L))) {
      val pruned = BucketedTable.prunedScanAt(spark, dir, v, lo, hi)
        .select("key", "payload").as[(Long, Long)].collect().sorted.toSeq
      val full = BucketedTable.readAt(spark, dir, v)
        .filter(col("key") >= lo && col("key") < hi)
        .select("key", "payload").as[(Long, Long)].collect().sorted.toSeq
      assert(pruned === full, s"v$v [$lo,$hi)")
    }
  }
}
