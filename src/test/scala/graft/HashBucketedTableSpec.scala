package graft

import org.apache.spark.sql.functions._

import graft.operators.{HashBucketedTable => H, Snapshots}

/** Hash-bucketed snapshot tables (string keys): metadata-only bucket
  * evolution, per-epoch hash-arithmetic planning for merges/deletes/
  * lookups, the stale-epoch migrator, and content identity throughout. */
class HashBucketedTableSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_hbt_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  private def fixture = spark.range(0, 600, 1, 4).select(
    format_string("k%04d", col("id")).as("key"),
    (col("id") * 31L).as("payload"))

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("key").as[String].collect().sorted.toSeq

  test("rename interplay: the KEY column refuses (the #bucketh metadata " +
    "binds it by name); a payload rename carries the bucket metadata and " +
    "epoch lines — the table stays a hash table") {
    val dir = tmpDir("ren")
    H.publish(fixture, dir, "key", 4L)
    intercept[IllegalArgumentException] {
      Snapshots.rename(spark, dir, "key", "id")
    }
    Snapshots.rename(spark, dir, "payload", "pl")
    assert(H.currentBuckets(spark, dir) === (("key", 4L)),
      "bucketh survives the rename")
    assert(H.fileBuckets(spark, dir,
      Snapshots.latest(spark, dir).get).values.toSet === Set(4L),
      "fileh epoch lines survive the rename")
    assert(H.read(spark, dir).columns.sorted.toSeq === Seq("key", "pl"))
    // the per-epoch machinery still works post-rename, and every row
    // the merge did not rewrite keeps its renamed value
    H.merge(Seq(("k0001", 9L)).toDF("key", "pl"), dir, Seq("key"))
    RenameCarry.check(spark, dir, H.read(spark, dir), "key", "pl",
      expected(0 until 600) + ("k0001" -> 9L), "merge")
  }

  private def expected(ids: Range): Map[String, Long] =
    ids.map(i => f"k$i%04d" -> i * 31L).toMap

  test("after a payload rename EVERY hash write keeps the renamed column " +
    "readable and the #colmap line: append, evolve, evolve + compact, " +
    "merge, delete") {
    val cases: Seq[(String, String => Unit, Map[String, Long])] = Seq(
      ("append", d => H.append(spark.range(600, 620).select(
        format_string("k%04d", col("id")).as("key"),
        (col("id") * 31L).as("pl")), d), expected(0 until 620)),
      ("evolveBuckets", d => H.evolveBuckets(spark, d, 8L), expected(0 until 600)),
      ("evolveBuckets + compact", { d =>
        H.evolveBuckets(spark, d, 8L); H.compact(spark, d)
      }, expected(0 until 600)),
      ("merge", d => H.merge(Seq(("k0001", 9L)).toDF("key", "pl"), d,
        Seq("key")), expected(0 until 600) + ("k0001" -> 9L)),
      ("delete", d => H.delete(fixture.filter(col("key") < "k0010")
        .select("key"), d, Seq("key")), expected(10 until 600)))
    RenameCarry.all(cases.map { case (what, write, want) => what -> { () =>
      val dir = tmpDir("renw")
      H.publish(fixture, dir, "key", 4L)
      Snapshots.rename(spark, dir, "payload", "pl")
      write(dir)
      RenameCarry.check(spark, dir, H.read(spark, dir), "key", "pl", want, what)
    }})
  }

  test("publish/append/evolveBuckets: evolution is METADATA-ONLY (exact " +
    "file identity), epochs coexist, every version reads its own rows") {
    val dir = tmpDir("evo")
    val v1 = H.publish(fixture.filter(col("key") < "k0200"), dir, "key", 4L)
    val v2 = H.append(fixture.filter(col("key") >= "k0200" &&
      col("key") < "k0400"), dir)
    val v3 = H.evolveBuckets(spark, dir, 16L)
    assert(Snapshots.files(spark, dir, v3) === Snapshots.files(spark, dir, v2),
      "metadata-only: the exact same files")
    val v4 = H.append(fixture.filter(col("key") >= "k0400"), dir)
    assert(H.currentBuckets(spark, dir) === (("key", 16L)))
    val eps = H.fileBuckets(spark, dir, v4).values.toSet
    assert(eps === Set(4L, 16L), s"mixed epochs coexist: $eps")
    assert(keysOf(H.readAt(spark, dir, v1)) ===
      (0 until 200).map(i => f"k$i%04d"))
    assert(keysOf(H.readAt(spark, dir, v4)) === (0 until 600).map(i => f"k$i%04d"))
  }

  test("merge/delete plan by PER-EPOCH hash arithmetic: untouched buckets " +
    "share files byte-for-byte across the epoch mix; lookupAt reads only " +
    "the hashed buckets and equals the plain filter") {
    val dir = tmpDir("pt")
    H.publish(fixture.filter(col("key") < "k0300"), dir, "key", 4L)
    H.evolveBuckets(spark, dir, 16L)
    val v3 = H.append(fixture.filter(col("key") >= "k0300"), dir)
    // merge exactly 3 keys: at most 3 buckets per epoch rewrite
    val upd = fixture.filter(col("key").isin("k0007", "k0307", "k0599"))
      .withColumn("payload", lit(-5L))
    val v4 = H.merge(upd, dir, Seq("key"))
    val shared = Snapshots.files(spark, dir, v4).toSet
      .intersect(Snapshots.files(spark, dir, v3).toSet)
    assert(shared.nonEmpty, "untouched buckets share files byte-for-byte")
    val head = H.read(spark, dir)
    assert(head.count() === 600L)
    assert(head.filter(col("payload") === -5L).count() === 3L)
    assert(head.filter(col("key") === "k0307").select("payload")
      .as[Long].head() === -5L)
    // delete by key, across epochs
    val v5 = H.delete(fixture.filter(col("key") < "k0010").select("key"),
      dir, Seq("key"))
    assert(H.read(spark, dir).count() === 590L)
    assert(keysOf(H.readAt(spark, dir, v4)).size === 600, "time travel")
    // point lookup == plain filter, incl. a deleted and an absent key
    val probes = Seq("k0005", "k0042", "k0307", "nope")
    val got = H.lookupAt(spark, dir, v5, probes)
    assert(keysOf(got) === Seq("k0042", "k0307"))
    assert(got.filter(col("key") === "k0307").select("payload")
      .as[Long].head() === -5L)
  }

  test("compact MIGRATES stale epochs (landing buckets from one scan of " +
    "the stale files only): zero old-epoch files after, one file per " +
    "bucket, idempotent, content identical") {
    val dir = tmpDir("mig")
    H.publish(fixture.filter(col("key") < "k0300"), dir, "key", 4L)
    H.evolveBuckets(spark, dir, 8L)
    H.append(fixture.filter(col("key") >= "k0300"), dir)
    val before = keysOf(H.read(spark, dir))
    val v4 = H.compact(spark, dir)
    val eps = H.fileBuckets(spark, dir, v4)
    assert(eps.values.forall(_ == 8L), "zero stale-epoch files remain")
    val byBucket = Snapshots.files(spark, dir, v4)
      .groupBy(Snapshots.fileBucket)
    assert(byBucket.forall(_._2.size == 1), "one file per bucket")
    assert(H.compact(spark, dir) === v4, "idempotent re-compact")
    assert(keysOf(H.readAt(spark, dir, v4)) === before, "migration moves no rows")
  }

  test("the string-key contract is ENFORCED, not just stated: a non-string " +
    "key refuses at publish, merge and lookup-probe time — xxhash64 is " +
    "type-dispatched, so an int-keyed table widened to long would hash the " +
    "same value into DIFFERENT buckets and silently lose updates") {
    val dir = tmpDir("strkey")
    val intKeyed = spark.range(0, 100, 1, 2).select(
      col("id").as("key"), (col("id") * 2L).as("payload"))
    // publish with a LongType key: the one-line door the silent
    // corruption walked through — now shut loudly
    val e = intercept[IllegalArgumentException] {
      H.publish(intKeyed, dir, "key", 4L)
    }
    assert(e.getMessage.contains("StringType"), e.getMessage)
    assert(Snapshots.latest(spark, dir).isEmpty, "nothing was published")
    // a correctly-published table refuses non-string UPDATE keys too
    // (the merge path hashes the batch's keys per epoch)
    H.publish(fixture, dir, "key", 4L)
    intercept[IllegalArgumentException] {
      H.merge(Seq((1L, 9L)).toDF("key", "payload"), dir, Seq("key"))
    }
    intercept[IllegalArgumentException] {
      H.delete(Seq(1L).toDF("key"), dir, Seq("key"))
    }
    // and the table is untouched by the refused writes
    assert(H.read(spark, dir).count() === 600)
    // string keys keep working (the contract's happy path)
    val v = H.merge(Seq(("k0001", 9L)).toDF("key", "payload"), dir, Seq("key"))
    assert(H.readAt(spark, dir, v).filter(col("key") === "k0001")
      .select("payload").as[Long].head() === 9L)
  }

  test("compact sizes its rewrite off #fsize ONLY when the lines cover " +
    "the rewrite set: a legacy manifest (no byte sizes) falls back to " +
    "the write default instead of collapsing the migration to 1 task") {
    import graft.operators.Snapshots
    val gb = 1024L * 1024 * 1024
    val covered = Snapshots.Manifest(
      files = Seq("data/t/a.parquet", "data/t/b.parquet"),
      meta = Seq(s"#fsize:${2 * gb}:data/t/a.parquet",
        s"#fsize:${3 * gb}:data/t/b.parquet"))
    // 5 GB / 256 MB per task = 20 writers
    assert(H.compactTasks(covered, covered.files) === 20)
    val legacy = Snapshots.Manifest(
      files = Seq("data/t/a.parquet", "data/t/b.parquet"), meta = Seq.empty)
    assert(H.compactTasks(legacy, legacy.files) === 32,
      "no coverage: the write default, never a 1-task epoch migration")
    val partial = Snapshots.Manifest(
      files = covered.files,
      meta = Seq(s"#fsize:${2 * gb}:data/t/a.parquet"))
    assert(H.compactTasks(partial, partial.files) === 32,
      "PARTIAL coverage degrades too — a half-known sum under-sizes")
  }
}
