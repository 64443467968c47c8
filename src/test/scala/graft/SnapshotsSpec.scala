package graft

import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** Manifest-committed snapshots: time travel, atomic version claims,
  * compaction that never breaks a reader, vacuum as the only delete. */
class SnapshotsSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_snap_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  private def fixture = spark.range(0, 900, 1, 4)
    .select(
      pmod(col("id") * 811L + 13L, lit(900L)).as("key"),
      (col("id") * 31L).as("payload"))
    .withColumn("bucket", expr("key div 300"))

  private def keysAt(dir: String, v: Long): Seq[Long] =
    Snapshots.readAt(spark, dir, v).select("key").as[Long].collect().sorted.toSeq

  test("publish/append build versions; TIME TRAVEL: every version keeps " +
    "reading exactly its own rows after later commits") {
    val dir = tmpDir("tt")
    assert(Snapshots.versions(spark, dir).isEmpty)
    assert(Snapshots.publish(fixture.filter(col("key") % 3 === 0), dir,
      "bucket", Seq("key")) === 1L)
    assert(Snapshots.append(fixture.filter(col("key") % 3 === 1), dir,
      "bucket", Seq("key")) === 2L)
    assert(Snapshots.append(fixture.filter(col("key") % 3 === 2), dir,
      "bucket", Seq("key")) === 3L)
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(keysAt(dir, 1) === (0L until 900L by 3).toSeq)
    assert(keysAt(dir, 2) === (0L until 900L).filter(_ % 3 <= 1))
    assert(keysAt(dir, 3) === (0L until 900L).toSeq)
    // bucket column recovered through the manifest read
    assert(Snapshots.read(spark, dir).filter(col("bucket") === 2L).count() === 300L)
    // each load contributed one file per touched bucket
    assert(Snapshots.files(spark, dir, 1).size === 3)
    assert(Snapshots.files(spark, dir, 2).size === 6)
    assert(Snapshots.files(spark, dir, 3).size === 9)
  }

  test("commit is an ATOMIC version claim: a taken version throws and " +
    "changes nothing; a crash before commit leaves orphans invisible") {
    val dir = tmpDir("atomic")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    val before = Snapshots.files(spark, dir, 1)
    intercept[java.io.IOException](
      Snapshots.commit(spark, dir, 1L, Seq("data/zz/bogus.parquet")))
    assert(Snapshots.files(spark, dir, 1) === before, "loser changed nothing")
    // simulate a crashed writer: staged data, no manifest
    val orphanDir = new java.io.File(s"$dir/data/orphan1/bucket=0")
    orphanDir.mkdirs()
    fixture.limit(5).drop("bucket").coalesce(1)
      .write.mode("overwrite").parquet(orphanDir.toString)
    assert(Snapshots.read(spark, dir).count() === 900L,
      "uncommitted staging is invisible to readers")
    val (_, deleted, kept) = Snapshots.vacuum(spark, dir, 1L, retainMs = 0L)
    assert(deleted >= 1L, "vacuum sweeps the orphaned staging files")
    assert(kept === 3L)
    assert(Snapshots.read(spark, dir).count() === 900L)
  }

  test("compact merges ONLY fragmented buckets into a new version, " +
    "SHARES untouched files with the previous version, and the previous " +
    "version still reads its exact rows afterwards") {
    val dir = tmpDir("cmp")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // fragment bucket 0 only
    Snapshots.append(fixture.filter(col("key") < 10), dir, "bucket", Seq("key"))
    val v3 = Snapshots.compact(spark, dir, "bucket", Seq("key"))
    assert(v3 === 3L)
    val f2 = Snapshots.files(spark, dir, 2).toSet
    val f3 = Snapshots.files(spark, dir, 3).toSet
    def bucketOf(rel: String) = Snapshots.fileBucket(rel).get
    // untouched buckets: identical file paths in both versions
    assert(f2.filter(bucketOf(_) != 0L) ===
      f3.filter(bucketOf(_) != 0L))
    // fragmented bucket: 2 files became 1 NEW file
    assert(f2.count(bucketOf(_) == 0L) === 2)
    assert(f3.count(bucketOf(_) == 0L) === 1)
    assert((f3 -- f2).size === 1)
    // old version unbroken; new version = same multiset of rows
    assert(Snapshots.readAt(spark, dir, 2).count() === 910L)
    assert(Snapshots.readAt(spark, dir, 3).count() === 910L)
    assert(keysAt(dir, 3) === keysAt(dir, 2))
    // merged file is key-sorted
    val merged = (f3 -- f2).head
    val ks = spark.read.parquet(s"$dir/$merged").select("key").as[Long].collect()
    assert(ks.toSeq === ks.sorted.toSeq)
    // compacting an already-compact table is a no-op (same version back)
    assert(Snapshots.compact(spark, dir, "bucket", Seq("key")) === 3L)
  }

  test("merge upserts: matched keys replaced, new keys inserted (incl. a " +
    "brand-new bucket), untouched buckets share files, old version intact") {
    val dir = tmpDir("mrg")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // updates: modify keys 0..4 (bucket 0), insert keys 1000..1004 (new bucket 3)
    val updates = fixture.filter(col("key") < 5)
      .withColumn("payload", col("payload") + 100000L)
      .unionByName(
        fixture.filter(col("key") >= 5 && col("key") < 10)
          .withColumn("key", col("key") + 1000L)
          .withColumn("payload", lit(-1L))
          .withColumn("bucket", expr("key div 300")))
    val v2 = Snapshots.merge(updates, dir, "bucket", Seq("key"), Seq("key"))
    assert(v2 === 2L)
    val got = Snapshots.read(spark, dir)
      .select("key", "payload").as[(Long, Long)].collect().toMap
    assert(got.size === 905)
    (0L until 5L).foreach(k =>
      assert(got(k) > 100000L - 1, s"key $k must carry the updated payload"))
    (1005L until 1010L).foreach(k => assert(got(k) === -1L, s"insert $k"))
    assert(got(10L) === fixture.filter(col("key") === 10)
      .select("payload").as[Long].head())
    // untouched buckets (1, 2) share files byte-for-byte with v1
    val f1 = Snapshots.files(spark, dir, 1).toSet
    val f2 = Snapshots.files(spark, dir, 2).toSet
    def bOf(rel: String) = Snapshots.fileBucket(rel).get
    assert(f1.filter(f => bOf(f) != 0L) ===
      f2.filter(f => bOf(f) != 0L && bOf(f) != 3L))
    assert(f2.exists(bOf(_) == 3L), "new bucket staged")
    // time travel across the merge: v1 unchanged
    assert(Snapshots.readAt(spark, dir, 1).count() === 900L)
    assert(Snapshots.readAt(spark, dir, 1).filter(col("key") >= 1000).count() === 0L)
    // empty update batch commits nothing
    assert(Snapshots.merge(updates.filter(col("key") < -1), dir,
      "bucket", Seq("key"), Seq("key")) === 2L)
    // DROPPING a target column is refused (additive evolution only)
    intercept[IllegalArgumentException](
      Snapshots.merge(updates.drop("payload"), dir,
        "bucket", Seq("key"), Seq("key")))
  }

  test("ADDITIVE schema evolution: a merge may add columns — old rows read " +
    "them as null, diff spans the boundary, dropping is refused") {
    val dir = tmpDir("evo")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    val evolved = fixture.filter(col("key") < 5)
      .withColumn("payload", col("payload") + 1L)
      .withColumn("src", lit("batch2"))
    Snapshots.merge(evolved, dir, "bucket", Seq("key"), Seq("key"))
    val back = Snapshots.read(spark, dir)
    assert(back.columns.contains("src"))
    assert(back.filter(col("src") === "batch2").count() === 5L)
    assert(back.filter(col("src").isNull).count() === 895L,
      "rows the column predates read as null")
    assert(back.count() === 900L)
    // diff across the evolution boundary: deletes carry null src
    val d = Snapshots.diff(spark, dir, 1L, 2L)
    assert(d.filter(col("_change") === "delete").count() === 5L)
    assert(d.filter(col("_change") === "delete" && col("src").isNull).count() === 5L)
    assert(d.filter(col("_change") === "insert" && col("src") === "batch2").count() === 5L)
  }

  test("prunedScanAt: footer min/max pruning composes with time travel — " +
    "same rows as the filtered full read, per version") {
    val dir = tmpDir("psc")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    Snapshots.merge(fixture.filter(col("key") >= 100 && col("key") < 110)
      .withColumn("payload", lit(0L)), dir, "bucket", Seq("key"), Seq("key"))
    for (v <- Seq(1L, 2L); (lo, hi) <- Seq((100L, 200L), (0L, 2000L), (5000L, 6000L))) {
      val pruned = Snapshots.prunedScanAtBy(spark, dir, v, "key", lo, hi)
        .select("key", "payload").as[(Long, Long)].collect().sorted.toSeq
      val full = Snapshots.readAt(spark, dir, v)
        .filter(col("key") >= lo && col("key") < hi)
        .select("key", "payload").as[(Long, Long)].collect().sorted.toSeq
      assert(pruned === full, s"v$v [$lo,$hi)")
    }
    // the v2 pruned scan sees the merged payloads; the v1 scan does not
    assert(Snapshots.prunedScanAtBy(spark, dir, 2L, "key", 100L, 110L)
      .select("payload").as[Long].collect().forall(_ === 0L))
    assert(Snapshots.prunedScanAtBy(spark, dir, 1L, "key", 100L, 110L)
      .select("payload").as[Long].collect().forall(_ !== 0L))
  }

  test("diff emits exact multiset inserts/deletes; a compaction's diff is " +
    "EMPTY; spans across several versions stay exact") {
    val dir = tmpDir("dif")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // duplicate keys 0..4 with a marker payload (fragments bucket 0)
    Snapshots.append(fixture.filter(col("key") < 5)
      .withColumn("payload", lit(-7L)), dir, "bucket", Seq("key"))
    val d12 = Snapshots.diff(spark, dir, 1L, 2L)
    assert(d12.filter(col("_change") === "insert").count() === 5L)
    assert(d12.filter(col("_change") === "insert")
      .select("payload").as[Long].collect().forall(_ === -7L))
    assert(d12.filter(col("_change") === "delete").count() === 0L)
    // compaction: same rows, different files -> empty diff
    val v3 = Snapshots.compact(spark, dir, "bucket", Seq("key"))
    assert(v3 === 3L)
    assert(Snapshots.diff(spark, dir, 2L, 3L).count() === 0L)
    // merge: replaced rows appear as delete + insert pairs
    val updates = fixture.filter(col("key") >= 10 && col("key") < 15)
      .withColumn("payload", col("payload") + 777777L)
    Snapshots.merge(updates, dir, "bucket", Seq("key"), Seq("key"))
    val d34 = Snapshots.diff(spark, dir, 3L, 4L)
    assert(d34.filter(col("_change") === "insert").count() === 5L)
    assert(d34.filter(col("_change") === "delete").count() === 5L)
    assert(d34.filter(col("_change") === "insert")
      .select("payload").as[Long].collect().forall(_ >= 777777L))
    // multi-version span: v1 -> v4 = dups inserted + 5 replaced
    val d14 = Snapshots.diff(spark, dir, 1L, 4L)
    assert(d14.filter(col("_change") === "insert").count() === 10L)
    assert(d14.filter(col("_change") === "delete").count() === 5L)
    // identical versions diff empty (and schema survives the edge)
    assert(Snapshots.diff(spark, dir, 4L, 4L).count() === 0L)
  }

  test("mergeBatch EXACTLY-ONCE: a replayed batch id is a no-op even with " +
    "different data (the ledger decides, not the content); the foreachBatch " +
    "sink applies a real stream batch once") {
    val dir = tmpDir("eos")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // real Structured Streaming plumbing first (its ids start at 0;
    // batch ids are monotone PER QUERY — the stated contract):
    // file stream -> foreachBatch applies batch 0 once
    val srcDir = java.nio.file.Files.createTempDirectory("graft_eos_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eos_ck").toString
    fixture.filter(col("key") >= 890).withColumn("payload", lit(222L))
      .write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(fixture.schema).parquet(srcDir)
      .writeStream
      .foreachBatch(Snapshots.foreachBatchMerge(dir, "bucket", Seq("key"), Seq("key")))
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(Snapshots.appliedBatches(spark, dir) === Set(0L))
    val streamed = Snapshots.read(spark, dir).filter(col("key") >= 890)
      .select("payload").as[Long].collect().toSeq
    assert(streamed.size === 10 && streamed.forall(_ === 222L))
    val upd = fixture.filter(col("key") < 5).withColumn("payload", lit(111L))
    assert(Snapshots.mergeBatch(42L, upd, dir, "bucket", Seq("key"), Seq("key")) === 3L)
    assert(Snapshots.lastAppliedBatch(spark, dir) === Some(42L))
    // replay with DIFFERENT content — still absorbed
    val poison = fixture.filter(col("key") < 3).withColumn("payload", lit(-999L))
    assert(Snapshots.mergeBatch(42L, poison, dir, "bucket", Seq("key"), Seq("key")) === 3L)
    // an id BELOW the high-water mark is also a re-delivery (monotone
    // contract): absorbed, nothing committed
    assert(Snapshots.mergeBatch(10L, poison, dir, "bucket", Seq("key"), Seq("key")) === 3L)
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L, 3L))
    val pay = Snapshots.read(spark, dir).filter(col("key") < 5)
      .select("payload").as[Long].collect().toSeq
    assert(pay.size === 5 && pay.forall(_ === 111L), s"replay must not apply: $pay")
    // the next id applies
    assert(Snapshots.mergeBatch(43L, poison, dir, "bucket", Seq("key"), Seq("key")) === 4L)
    assert(Snapshots.appliedBatches(spark, dir) === Set(0L, 42L, 43L))
    assert(Snapshots.lastAppliedBatch(spark, dir) === Some(43L))
  }

  test("FAILS LOUDLY: publishing an empty frame refuses to commit an " +
    "unreadable zero-file version") {
    val dir = tmpDir("mt")
    val e = intercept[IllegalArgumentException](
      Snapshots.publish(fixture.filter(col("key") < 0), dir, "bucket", Seq("key")))
    assert(e.getMessage.contains("no data files"))
    assert(Snapshots.versions(spark, dir).isEmpty, "nothing committed")
  }

  test("vacuum drops old versions and deletes exactly the files no kept " +
    "version references; shared files survive") {
    val dir = tmpDir("vac")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    Snapshots.append(fixture.filter(col("key") < 10), dir, "bucket", Seq("key"))
    Snapshots.compact(spark, dir, "bucket", Seq("key"))
    // files ever: v1=3, append adds 1 (bucket 0), compact adds 1 merged = 5
    // kept by v3: buckets 1,2 from v1 (shared) + merged bucket 0 = 3
    intercept[IllegalArgumentException](Snapshots.vacuum(spark, dir, 99L))
    val (dropped, deleted, kept) = Snapshots.vacuum(spark, dir, 3L, retainMs = 0L)
    assert(dropped === 2L && deleted === 2L && kept === 3L)
    assert(Snapshots.versions(spark, dir) === Seq(3L))
    assert(Snapshots.read(spark, dir).count() === 910L)
    intercept[IllegalArgumentException](Snapshots.readAt(spark, dir, 1L)
      .count())
  }

  test("vacuum RETENTION WINDOW: files younger than retainMs are never " +
    "swept even when unreferenced — a racing writer's staged files survive " +
    "until its commit; retainMs=0 is the exclusive-access mode") {
    val dir = tmpDir("ret")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // a concurrent writer mid-stage: data on disk, manifest not yet committed
    val stagedDir = new java.io.File(s"$dir/data/racer01/__bdir=0")
    stagedDir.mkdirs()
    fixture.limit(5).coalesce(1)
      .write.mode("overwrite").parquet(stagedDir.toString)
    val (_, deletedGuarded, _) = Snapshots.vacuum(spark, dir, 1L)
    assert(deletedGuarded === 0L,
      "default retention must protect the in-flight writer's staged files")
    assert(stagedDir.listFiles().exists(_.getName.endsWith(".parquet")),
      "staged files still on disk")
    val (_, deletedExclusive, _) = Snapshots.vacuum(spark, dir, 1L, retainMs = 0L)
    assert(deletedExclusive >= 1L, "retainMs=0 sweeps the orphans")
  }

  test("merge FAILS FAST on NULL bucket values in the update batch — a " +
    "contract error, not an NPE deep in the plan") {
    val dir = tmpDir("nullb")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    val bad = fixture.filter(col("key") < 5)
      .withColumn("bucket",
        when(col("key") === 1L, lit(null).cast("long")).otherwise(col("bucket")))
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(bad, dir, "bucket", Seq("key"), Seq("key")))
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(Snapshots.versions(spark, dir) === Seq(1L), "nothing committed")
  }

  test("MANIFEST-PERSISTED STATS: versionStats equals the footer walk for " +
    "every version, every manifest carries one #stat line per file, and a " +
    "pruned scan plans WITHOUT opening non-surviving data files (proved by " +
    "hiding one and scanning anyway)") {
    val dir = tmpDir("mstat")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    Snapshots.append(fixture.filter(col("key") < 10), dir, "bucket", Seq("key"))
    Snapshots.compact(spark, dir, "bucket", Seq("key"))
    val v4 = Snapshots.merge(
      fixture.filter(col("key") >= 300 && col("key") < 305)
        .withColumn("payload", lit(-3L)),
      dir, "bucket", Seq("key"), Seq("key"))
    assert(v4 === 4L)
    for (v <- 1L to 4L) {
      val fromManifest = Snapshots.versionStats(spark, dir, v, "key")
        .map(st => (st.path, st.rowCount, st.min, st.max)).sorted
      val walked = graft.operators.Layout.rowGroupStatsFiles(spark,
          Snapshots.files(spark, dir, v).map(r => s"$dir/$r"), "key")
        .groupBy(_.path).toSeq.map { case (pth, gs) =>
          (pth, gs.map(_.rowCount).sum, gs.map(_.min).min, gs.map(_.max).max)
        }.sorted
      assert(fromManifest === walked, s"manifest stats == footers at v$v")
      // one #stat line per referenced file, atomically in the manifest
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$dir/_manifests/v$v%020d")), "UTF-8")
      assert(text.linesIterator.count(_.startsWith("#stat:key:")) ===
        Snapshots.files(spark, dir, v).size)
    }
    // the no-opens proof: hide a file the predicate below cannot survive
    // (bucket 2 holds keys 600..899); planning + reading [0,10) must not
    // notice. A footer-walking planner would throw on the missing file.
    val hidden = Snapshots.files(spark, dir, v4)
      .find(r => Snapshots.fileBucket(r).contains(2L)).get
    val fsrc = java.nio.file.Paths.get(s"$dir/$hidden")
    val fdst = java.nio.file.Paths.get(s"$dir/$hidden.hidden")
    java.nio.file.Files.move(fsrc, fdst)
    try {
      val got = Snapshots.prunedScanAtBy(spark, dir, v4, "key", 0L, 10L)
        .select("key", "payload").as[(Long, Long)].collect().sorted.toSeq
      val want = fixture.filter(col("key") < 10)
        .select("key", "payload").as[(Long, Long)].collect()
        .flatMap(r => Seq(r, r)).sorted.toSeq // keys<10 duplicated by the append
      assert(got === want)
    } finally java.nio.file.Files.move(fdst, fsrc)
  }

  test("read plan stays ONE parquet scan however many commits: a table " +
    "with 100 staging tokens reads through a single relation (no " +
    "union-per-token growth), and counts stay exact") {
    val dir = tmpDir("flat")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    val tiny = spark.range(0, 3).select(
      (col("id") + 10000L).as("key"), (col("id") * 2L).as("payload"),
      lit(40L).as("bucket"))
    for (_ <- 1 to 99)
      Snapshots.append(tiny, dir, "bucket", Seq("key"), numTasks = 1)
    assert(Snapshots.versions(spark, dir).size === 100)
    val df = Snapshots.read(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).size === 1,
      s"expected ONE scan node over 100 tokens, plan:\n${plan.take(2000)}")
    assert(df.count() === 900L + 99L * 3L)
    assert(df.filter(col("bucket") === 40L).count() === 297L)
  }

  test("TYPE WIDENING evolution: a merge batch may widen columns " +
    "(int->long, float->double) — the manifest records the widest type, " +
    "old files widen natively at read, untouched files are shared, time " +
    "travel keeps the narrow schema, a narrower LATER batch upcasts, and " +
    "incomparable changes refuse") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, FloatType}
    val dir = tmpDir("wide")
    val base = spark.range(0, 100, 1, 2).select(
        col("id").as("key"),
        col("id").cast("int").as("cnt"),
        // cast AFTER the divide: Spark's / promotes to double
        (col("id") / 2).cast("float").as("score"))
      .withColumn("bucket", expr("key div 50"))
    Snapshots.publish(base, dir, "bucket", Seq("key"))
    val widen = spark.range(0, 5).select(
        col("id").as("key"),
        (col("id") + (1L << 40)).as("cnt"),
        (col("id").cast("double") + 0.25).as("score"))
      .withColumn("bucket", expr("key div 50"))
    Snapshots.merge(widen, dir, "bucket", Seq("key"), Seq("key"))
    val back = Snapshots.read(spark, dir)
    assert(back.schema("cnt").dataType === LongType)
    assert(back.schema("score").dataType === DoubleType)
    assert(back.count() === 100L)
    val got = back.select("key", "cnt", "score")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    (0L until 100L).foreach { k =>
      if (k < 5) assert(got(k) === ((k + (1L << 40), k + 0.25)), s"key $k widened row")
      else assert(got(k) === ((k, k / 2.0)), s"key $k old row widened natively")
    }
    // untouched bucket (keys >= 50) shares its file byte-for-byte
    val f1 = Snapshots.files(spark, dir, 1).toSet
    val f2 = Snapshots.files(spark, dir, 2).toSet
    assert(f1.filter(f => Snapshots.fileBucket(f).contains(1L)) ===
      f2.filter(f => Snapshots.fileBucket(f).contains(1L)))
    // time travel keeps the ORIGINAL narrow schema
    val v1 = Snapshots.readAt(spark, dir, 1)
    assert(v1.schema("cnt").dataType === IntegerType)
    assert(v1.schema("score").dataType === FloatType)
    // diff spans the widening boundary (old side widens under vNew's schema)
    val d = Snapshots.diff(spark, dir, 1L, 2L)
    assert(d.filter(col("_change") === "insert").count() === 5L)
    assert(d.filter(col("_change") === "delete").count() === 5L)
    // a NARROWER later batch upcasts into the widened table
    val narrow = spark.range(7, 9).select(
        col("id").as("key"),
        lit(42).cast("int").as("cnt"),
        lit(1.5f).as("score"))
      .withColumn("bucket", expr("key div 50"))
    Snapshots.merge(narrow, dir, "bucket", Seq("key"), Seq("key"))
    val after = Snapshots.read(spark, dir)
    assert(after.schema("cnt").dataType === LongType, "stays at the widest")
    assert(after.filter(col("key") === 7L).select("cnt").as[Long].head() === 42L)
    // incomparable change refuses, nothing commits
    val vBefore = Snapshots.versions(spark, dir)
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(
        spark.range(0, 1).select(col("id").as("key"),
            lit("oops").as("cnt"), lit(1.0).as("score"))
          .withColumn("bucket", expr("key div 50")),
        dir, "bucket", Seq("key"), Seq("key")))
    assert(e.getMessage.contains("widening") || e.getMessage.contains("WIDENING"),
      e.getMessage)
    assert(Snapshots.versions(spark, dir) === vBefore)
  }

  test("OPTIMISTIC CONCURRENCY: a writer whose base version was overtaken " +
    "by a concurrent commit THROWS at claim time (no lost update); aborted " +
    "transaction tombstones never conflict; in-flight transactions do") {
    val dir = tmpDir("occ")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    // a racer committed v2 between this writer's plan (base v1) and its
    // commit: committing above v2 would silently drop the racer's rows
    // from the table head — the claim refuses instead
    Snapshots.commit(spark, dir, 2L, Snapshots.files(spark, dir, 1L),
      Seq("format:2"))
    intercept[java.util.ConcurrentModificationException](
      Snapshots.claimAbove(spark, dir, 1L))
    // a write planned against the NEW latest proceeds
    assert(Snapshots.claimAbove(spark, dir, 2L) === 3L)
    // an ABORTED transaction's tombstone holds a version number but no
    // state: claims skip above it without conflict
    val dead = Snapshots.beginTxn(spark, dir + "_rec_dead")
    dead.append(fixture.limit(10), dir, "bucket", Seq("key")) // provisional v3
    dead.abort()
    assert(Snapshots.claimAbove(spark, dir, 2L) === 4L, "tombstone skipped")
    // an IN-FLIGHT transaction's provisional manifest DOES conflict (its
    // fate is open — basing a commit on it would not be serializable)
    val open = Snapshots.beginTxn(spark, dir + "_rec_open")
    open.append(fixture.limit(10), dir, "bucket", Seq("key")) // provisional v4
    intercept[java.util.ConcurrentModificationException](
      Snapshots.claimAbove(spark, dir, 2L))
    open.abort()
  }

  test("two RACING plain appends with claim-check + retry: both batches " +
    "land in the final table — the lost-update window is closed end-to-end") {
    val dir = tmpDir("race")
    Snapshots.publish(fixture.filter(col("key") < 300), dir, "bucket", Seq("key"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val localSpark = spark
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try {
          val rows = fixture
            .filter(col("key") >= 300L + i * 300L && col("key") < 600L + i * 300L)
          var done = false
          var attempts = 0
          while (!done && attempts < 25) {
            attempts += 1
            try {
              Snapshots.append(rows, dir, "bucket", Seq("key"))
              done = true
            } catch {
              // claim conflict OR a same-number create-exclusive loss:
              // re-read latest and retry — the writer protocol
              case _: java.util.ConcurrentModificationException => ()
              case _: java.io.IOException => ()
            }
          }
          if (!done) errs.add(new IllegalStateException(s"writer $i starved"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"racing writers failed: ${errs.toArray.mkString(";")}")
    assert(Snapshots.read(localSpark, dir).count() === 900L,
      "BOTH racers' batches present at head — nothing lost")
  }

  test("DELETE removes rows from the table head rewriting ONLY touched " +
    "buckets; a fully-deleted bucket drops out of the manifest with no " +
    "staged file; time travel and diff cross the delete; vacuum reclaims " +
    "the rewritten buckets' old files") {
    val dir = tmpDir("del")
    Snapshots.publish(fixture, dir, "bucket", Seq("key")) // buckets 0,1,2
    val f1 = Snapshots.files(spark, dir, 1).toSet
    // partial delete inside bucket 0
    val v2 = Snapshots.delete(fixture.filter(col("key") < 10)
      .select("key", "bucket"), dir, "bucket", Seq("key"), Seq("key"))
    assert(v2 === 2L)
    assert(keysAt(dir, 2) === (10L until 900L).toSeq)
    // untouched buckets 1,2 share their files byte-for-byte
    val f2 = Snapshots.files(spark, dir, 2).toSet
    assert(f1.filter(f => Snapshots.fileBucket(f).exists(_ >= 1L)) ===
      f2.filter(f => Snapshots.fileBucket(f).exists(_ >= 1L)))
    // diff across the delete: 10 pure deletes, zero inserts (the
    // rewritten bucket's carried rows cancel at the row level)
    val d = Snapshots.diff(spark, dir, 1L, 2L)
    assert(d.filter(col("_change") === "delete").count() === 10L)
    assert(d.filter(col("_change") === "insert").count() === 0L)
    // full-bucket delete: bucket 2 disappears — no empty staged file
    val v3 = Snapshots.delete(fixture.filter(col("key") >= 600)
      .select("key", "bucket"), dir, "bucket", Seq("key"), Seq("key"))
    assert(keysAt(dir, 3) === (10L until 600L).toSeq)
    assert(Snapshots.files(spark, dir, 3)
      .flatMap(Snapshots.fileBucket).toSet === Set(0L, 1L))
    // deleting keys that were never present is a committed no-op on
    // content (its bucket rewrites unchanged); ghost buckets no-op
    val v4 = Snapshots.delete(
      spark.range(5000, 5003).select(col("id").as("key"))
        .withColumn("bucket", expr("key div 300")),
      dir, "bucket", Seq("key"), Seq("key"))
    assert(v4 === 3L, "all-ghost-bucket delete commits nothing")
    // TIME TRAVEL: pre-delete versions still read every deleted row
    assert(keysAt(dir, 1) === (0L until 900L).toSeq)
    // vacuum past the deletes reclaims the rewritten buckets' old files
    val (dropped, deleted, kept) = Snapshots.vacuum(spark, dir, v3, retainMs = 0L)
    assert(dropped === 2L)
    assert(deleted === 2L, "bucket-0 v1 file + bucket-2 v1 file reclaimed")
    assert(kept === 2L)
    assert(keysAt(dir, 3) === (10L until 600L).toSeq, "head intact after vacuum")
  }

  test("mergeBatch BOOTSTRAP stamps the first batch into the ledger (a " +
    "replayed bootstrap batch is absorbed, not re-merged) and a batch may " +
    "carry updates AND deletes in ONE commit") {
    val dir = tmpDir("boot")
    val b0 = fixture.filter(col("key") < 100)
    assert(Snapshots.mergeBatch(0L, b0, dir, "bucket", Seq("key"), Seq("key")) === 1L)
    assert(Snapshots.appliedBatches(spark, dir) === Set(0L))
    // crash-replay of the bootstrap batch: absorbed by the high-water
    // check — no spurious extra version (the pre-stamp hole closed)
    assert(Snapshots.mergeBatch(0L, b0, dir, "bucket", Seq("key"), Seq("key")) === 1L)
    assert(Snapshots.versions(spark, dir) === Seq(1L))
    // one batch, both sides: upsert 100..109 in, delete 0..4 out
    val upd = fixture.filter(col("key") >= 100 && col("key") < 110)
    val del = fixture.filter(col("key") < 5).select("key", "bucket")
    assert(Snapshots.mergeBatch(1L, upd, dir, "bucket", Seq("key"), Seq("key"),
      deletes = Some(del)) === 2L)
    assert(keysAt(dir, 2) === (5L until 110L).toSeq)
    assert(Snapshots.appliedBatches(spark, dir) === Set(0L, 1L))
    // replay of the two-sided batch: absorbed too
    assert(Snapshots.mergeBatch(1L, upd, dir, "bucket", Seq("key"), Seq("key"),
      deletes = Some(del)) === 2L)
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L))
  }

  test("column RENAME is a METADATA-ONLY commit: same files, renamed " +
    "logical surface, time travel under each version's OWN names, writes " +
    "after the rename stage under the BIRTH name, stats/pruning and diff " +
    "survive, invalid renames refuse") {
    val dir = tmpDir("ren")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    val s1 = Snapshots.readAt(spark, dir, 1)
      .agg(sum(col("payload"))).as[Long].head()
    assert(Snapshots.rename(spark, dir, "payload", "pay2") === 2L)
    assert(Snapshots.files(spark, dir, 2) === Snapshots.files(spark, dir, 1),
      "metadata-only: the exact same data files")
    assert(Snapshots.read(spark, dir).columns.toSeq ===
      Seq("key", "pay2", "bucket"))
    // time travel keeps the OLD name on the old version
    assert(Snapshots.readAt(spark, dir, 1).columns.toSeq ===
      Seq("key", "payload", "bucket"))
    assert(Snapshots.read(spark, dir).agg(sum(col("pay2"))).as[Long].head()
      === s1, "values unchanged through the rename")
    // merge AFTER the rename: updates carry the NEW name
    Snapshots.merge(
      fixture.filter(col("key") < 5).withColumnRenamed("payload", "pay2")
        .withColumn("pay2", lit(-1L)),
      dir, "bucket", Seq("key"), Seq("key")) // v3
    val head = Snapshots.read(spark, dir)
    assert(head.count() === 900L)
    assert(head.filter(col("key") < 5).select("pay2").as[Long].collect()
      .forall(_ == -1L))
    // the post-rename file stores the BIRTH name (all files agree)
    val newFiles = (Snapshots.files(spark, dir, 3).toSet --
      Snapshots.files(spark, dir, 2).toSet).toSeq
    val raw = spark.read.parquet(newFiles.map(r => s"$dir/$r"): _*)
    assert(raw.columns.contains("payload") && !raw.columns.contains("pay2"),
      s"staged under the physical name: ${raw.columns.toSeq}")
    // append after the rename, then rename the KEY column too
    Snapshots.append(
      fixture.filter(col("key") === 899L).withColumnRenamed("payload", "pay2"),
      dir, "bucket", Seq("key")) // v4: 901 rows (one duplicate key)
    val v5 = Snapshots.rename(spark, dir, "key", "k2")
    assert(Snapshots.read(spark, dir).count() === 901L)
    // pruning consults PHYSICAL-keyed stats across the rename
    val pruned = Snapshots.prunedScanAtBy(spark, dir, v5, "k2", 0L, 10L)
    assert(pruned.select("k2").as[Long].collect().sorted.toSeq ===
      (0L until 10L).toSeq)
    // diff across a rename is EMPTY (identical files cancel)
    assert(Snapshots.diff(spark, dir, 4L, v5).count() === 0L)
    // refusals: unknown source, name collision, meta-breaking name
    intercept[IllegalArgumentException](
      Snapshots.rename(spark, dir, "nope", "x"))
    intercept[IllegalArgumentException](
      Snapshots.rename(spark, dir, "k2", "pay2"))
    intercept[IllegalArgumentException](
      Snapshots.rename(spark, dir, "k2", "a:b"))
    // rename BACK to the birth name drops the map entry entirely
    val v6 = Snapshots.rename(spark, dir, "pay2", "payload")
    assert(Snapshots.manifest(spark, dir, v6).colMap === Map("key" -> "k2"))
  }

  test("TYPED multi-column stats (format 2.1 #stat2): declared stats " +
    "columns record per-file min/max for long, string, timestamp and " +
    "double surfaces; manifest == typed footer walk; pruning on a SECOND " +
    "column equals the full filter and skips non-intersecting files; " +
    "appends extend and renames keep stats physical-keyed") {
    val dir = tmpDir("stat2")
    val rows = spark.range(0, 300, 1, 2).select(
        col("id").as("key"),
        concat(lit("u"), lpad(col("id").cast("string"), 4, "0")).as("name"),
        timestamp_micros(col("id") * 1000000L + 1600000000000000L).as("ts"),
        (col("id") / 7.0).as("score"),
        col("id").cast("string").as("code"))
      .withColumn("bucket", expr("key div 100"))
    Snapshots.publish(rows, dir, "bucket", Seq("key"),
      statsCols = Seq("key", "name", "ts", "score", "code"))
    // manifest == typed footer walk, per recorded column
    for (c <- Seq("key", "name", "ts", "score", "code")) {
      val m = Snapshots.versionStatsFor(spark, dir, 1L, c).sortBy(_.path)
      val w = graft.operators.Layout.typedStatsFiles(spark,
        Snapshots.files(spark, dir, 1L).map(r => s"$dir/$r"), Seq(c))
        .sortBy(_.path)
      assert(m === w, s"column $c: manifest stats == footer walk")
    }
    // the string stats are REAL per-file ranges (bucket 0 = u0000..u0099)
    val nameStats = Snapshots.versionStatsFor(spark, dir, 1L, "name")
    val s0 = nameStats.find(_.path.contains("=0")).get
    def b64s(s: String) = new String(
      java.util.Base64.getDecoder.decode(s), "UTF-8")
    assert(s0.kind === "s")
    assert(b64s(s0.min) === "u0000" && b64s(s0.max) === "u0099")
    // typed pruning == the full filter, all three kinds
    assert(Snapshots.prunedScanAtBy(spark, dir, 1L, "name", "u0050", "u0150")
      .select("key").as[Long].collect().sorted.toSeq === (50L until 150L).toSeq)
    assert(Snapshots.prunedScanAtBy(spark, dir, 1L, "ts",
      1600000000000000L + 10000000L, 1600000000000000L + 20000000L)
      .count() === 10L)
    assert(Snapshots.prunedScanAtBy(spark, dir, 1L, "score", 0.0, 1.0)
      .count() === 7L)
    // one skip rule for every bound (regression pins): a non-integral
    // bound on the long key keeps the file whose min is its floor (key
    // 100), and a bound of another family than the column's stats (a
    // String on the long key, a Long on the numeric-text `code`) makes
    // no claim — each scan equals the plain filter and the decision
    // keeps the file holding the match
    def keysOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("key").as[Long].collect().sorted.toSeq
    val holds100 = Snapshots.versionStatsFor(spark, dir, 1L, "key")
      .filter(s => s.min.toLong <= 100L && 100L <= s.max.toLong)
      .map(_.path.stripPrefix(s"$dir/"))
    assert(holds100.nonEmpty)
    for ((c, lo, hi, want) <- Seq[(String, Any, Any, Seq[Long])](
        ("key", 0L, 100.5, (0L to 100L).toSeq),
        ("key", "100", "200", (100L until 200L).toSeq),
        ("code", 100L, 200L, (100L until 200L).toSeq))) {
      val full = Snapshots.readAt(spark, dir, 1L)
        .filter(col(c) >= lit(lo) && col(c) < lit(hi))
      assert(keysOf(full) === want, s"$c [$lo, $hi): the plain filter")
      assert(keysOf(Snapshots.prunedScanAtBy(spark, dir, 1L, c, lo, hi)) ===
        want, s"$c [$lo, $hi): the pruned scan")
      assert(holds100.forall(
        Snapshots.prunedFilesBy(spark, dir, 1L, c, lo, hi).contains),
        s"$c [$lo, $hi): the file holding key 100 is kept")
    }
    // an append's new file gets its own stats AND is SKIPPED when its
    // range cannot intersect (name='zzz' is above the probe window)
    Snapshots.append(rows.filter(col("key") < 5).withColumn("name", lit("zzz")),
      dir, "bucket", Seq("key"))
    assert(Snapshots.manifest(spark, dir, 2L).stats2("name").size ===
      Snapshots.files(spark, dir, 2L).size, "every file carries name stats")
    val pruned = Snapshots.prunedScanAtBy(spark, dir, 2L, "name", "u0050", "u0150")
    assert(pruned.count() === 100L, "zzz rows excluded, originals kept")
    // a MERGE must carry kept files' stat2 lines forward too (the
    // 7-field split regression pin: results were correct through the
    // footer-walk fallback, but planning must stay manifest-only)
    Snapshots.merge(rows.filter(col("key") === 250L)
        .withColumn("name", lit("u9999")),
      dir, "bucket", Seq("key"), Seq("key"))
    assert(Snapshots.manifest(spark, dir, 3L).stats2("name").size ===
      Snapshots.files(spark, dir, 3L).size,
      "kept + staged files ALL carry name stats after a merge")
    // rename keeps stats keyed by the PHYSICAL name: prune by new name
    val v3 = Snapshots.rename(spark, dir, "name", "uname")
    assert(Snapshots.prunedScanAtBy(spark, dir, v3, "uname", "u0050", "u0150")
      .count() === 100L)
  }

  test("committedness CHECKPOINT: a fresh process seeds from ONE file " +
    "(no manifest opens for covered versions); in-flight transactions are " +
    "never checkpointed and resolve from disk; newer commits above a stale " +
    "checkpoint resolve; vacuum refreshes it in place") {
    val dir = tmpDir("ckpt")
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    Snapshots.append(fixture.limit(10), dir, "bucket", Seq("key"))
    val dead = Snapshots.beginTxn(spark, dir + "_cr_dead")
    dead.append(fixture.limit(5), dir, "bucket", Seq("key")) // v3 provisional
    dead.abort()
    assert(Snapshots.checkpoint(spark, dir) === 3L, "v1:c v2:c v3:a")
    // an IN-FLIGHT txn claims v4 AFTER the checkpoint
    val open = Snapshots.beginTxn(spark, dir + "_cr_open")
    open.append(fixture.limit(5), dir, "bucket", Seq("key"))
    Snapshots.clearCaches() // simulate a fresh process attaching
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L),
      "checkpointed history + the open txn correctly invisible")
    open.commit()
    Snapshots.clearCaches()
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L, 4L),
      "a commit above the stale checkpoint resolves from disk")
    Snapshots.append(fixture.limit(3), dir, "bucket", Seq("key")) // v5
    Snapshots.clearCaches()
    assert(Snapshots.versions(spark, dir) === Seq(1L, 2L, 4L, 5L))
    // vacuum refreshes the checkpoint: dropped versions leave it
    Snapshots.vacuum(spark, dir, 4L, retainMs = 0L)
    Snapshots.clearCaches()
    assert(Snapshots.versions(spark, dir) === Seq(4L, 5L))
    assert(Snapshots.read(spark, dir).count() === 918L,
      "head intact: 900 + 10 + 5 + 3 appended duplicates")
  }
  test("concurrent TIMESTAMP staging writes cannot clobber the " +
    "TIMESTAMP_MICROS pin: parallel publishes of with-zone timestamp " +
    "tables ALL record typed stats (the set/restore race — one writer's " +
    "restore reinstating INT96 before another's write executed)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val dirs = (0 until 3).map(i => tmpDir(s"tsrace$i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val published = dirs.map { d =>
        Future {
          val df = spark.range(0, 2000, 1, 2).select(col("id").as("k"),
            expr("timestamp_micros(id * 1000000)").as("ts"),
            expr("id div 1000").as("bucket"))
          d -> Snapshots.publish(df, d, "bucket", Seq("k"),
            statsCols = Seq("ts"))
        }
      }
      val got = Await.result(Future.sequence(published),
        scala.concurrent.duration.Duration(300, "s"))
      got.foreach { case (d, v) =>
        val mf = new java.io.File(f"$d/_manifests/v$v%020d")
        val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
        val tsStats = lines.filter(_.startsWith("#stat2:ts:i:"))
        assert(tsStats.size === 2,
          s"$d lost its timestamp stats (INT96 leaked into the staging " +
            s"write): ${lines.filter(_.startsWith("#"))}")
      }
    } finally pool.shutdown()
  }
}
