package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dv, Snapshots}

/** Merge-on-read deletes (deletion vectors): a scattered-key delete
  * writes ZERO data files, every read path applies the vectors, time
  * travel still sees the pre-delete state, rewrites materialize,
  * compact reclaims, and the change feed / diff emit the newly-dead
  * rows the file sets alone cannot see. */
class DeletionVectorSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_dv_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi, 1, 4).select(col("id").as("k"),
      (col("id") * 31L).as("v"), expr("id div 1000").as("bucket"))

  test("codec: delta-varint roundtrip on scattered, dense and singleton " +
    "sets; merge is a sorted union; the inline budget refuses loudly") {
    val scattered = Array(0L, 97L, 5000L, 5001L, 999999L)
    assert(Dv.decode(Dv.encode(scattered)).toSeq === scattered.toSeq)
    val dense = (100L to 400L).toArray
    assert(Dv.decode(Dv.encode(dense)).toSeq === dense.toSeq)
    assert(Dv.decode(Dv.encode(Array(7L))).toSeq === Seq(7L))
    assert(Dv.decode(Dv.encode(Array.empty[Long])).toSeq === Seq.empty)
    assert(Dv.merge(Array(5L, 1L), Array(3L, 5L)).toSeq === Seq(1L, 3L, 5L))
    intercept[IllegalArgumentException] {
      Dv.encode(Array.tabulate(Dv.MaxInlinePositions + 1)(_.toLong))
    }
  }

  test("merge and encode agree with the (a ++ b).distinct.sorted " +
    "reference over seeded random position sets") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    import org.scalacheck.util.Pretty
    // unsorted with duplicates, or sorted and distinct (a decoded
    // vector's and a task's sorted hits' shape)
    val positions = Gen.oneOf(
      Gen.listOf(Gen.choose(0L, 200L)).map(_.toArray),
      Gen.listOf(Gen.choose(0L, 1L << 40)).map(_.distinct.sorted.toArray))
    val prop = Prop.forAllNoShrink(positions, positions) { (a, b) =>
      val want = (a ++ b).distinct.sorted.toSeq
      ((Dv.merge(a, b).toSeq == want) :| "merge") &&
        ((Dv.decode(Dv.encode(a ++ b)).toSeq == want) :| "encode") &&
        ((Dv.decodeBytes(Dv.encodeBytes(a ++ b)).toSeq == want) :| "encodeBytes")
    }
    val res = Test.check(Test.Parameters.default
      .withInitialSeed(Seed(20261020L)).withMinSuccessfulTests(500)
      .withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("a scattered-key delete writes ZERO data files: same file list, " +
    "reads equal the filter, rowCountAt subtracts, time travel reads the " +
    "pre-delete state, re-deleting the same keys is a no-op, and the " +
    "pruned scan stays consistent") {
    val dir = tmpDir("scatter")
    val v1 = Snapshots.publish(rows(0, 8000), dir, "bucket", Seq("k"))
    val filesBefore = Snapshots.files(spark, dir, v1)
    // every 97th key — scattered across ALL 8 buckets (the GDPR shape
    // copy-on-write would rewrite the whole table for)
    val doomed = rows(0, 8000).filter(col("k") % 97 === 0)
      .select("k", "bucket")
    val v2 = Snapshots.deleteVectored(doomed, dir, "bucket", Seq("k"))
    assert(v2 === v1 + 1)
    assert(Snapshots.files(spark, dir, v2) === filesBefore,
      "metadata-only: the exact same data files")
    val nDoomed = 8000 / 97 + 1 // 83 keys: 0, 97, ..., 7954
    assert(Snapshots.read(spark, dir).count() === 8000L - nDoomed)
    assert(Snapshots.read(spark, dir).filter(col("k") % 97 === 0).count() === 0)
    assert(Snapshots.read(spark, dir).agg(sum("v")).as[Long].head() ===
      rows(0, 8000).filter(col("k") % 97 =!= 0).agg(sum("v")).as[Long].head())
    assert(Snapshots.rowCountAt(spark, dir, v2) === Some(8000L - nDoomed),
      "manifest row count subtracts the recorded dead positions")
    assert(Snapshots.readAt(spark, dir, v1).count() === 8000L, "time travel")
    // the vectors cover all 8 buckets
    assert(Snapshots.deletionVectorsAt(spark, dir, v2).size === 8)
    // re-deleting already-dead keys matches nothing: no new version
    assert(Snapshots.deleteVectored(doomed, dir, "bucket", Seq("k")) === v2)
    // a second DV delete GROWS the vectors in one more metadata commit
    val v3 = Snapshots.deleteVectored(
      Seq((500L, 0L)).toDF("k", "bucket"), dir, "bucket", Seq("k"))
    assert(Snapshots.files(spark, dir, v3) === filesBefore)
    assert(Snapshots.read(spark, dir).count() === 8000L - nDoomed - 1)
    // pruned scans apply the vectors too (same answer as the filter)
    val pruned = Snapshots.prunedScanAtBy(spark, dir, v3, "k", 400L, 600L)
    assert(pruned.count() ===
      (400L until 600L).count(k => k % 97 != 0 && k != 500L))
  }

  test("rewrites MATERIALIZE the vector: a merge touching a vectored " +
    "bucket drops its dv line and keeps the deletes; compact targets " +
    "DV-bearing files even without fragmentation and vacuum reclaims") {
    val dir = tmpDir("mat")
    Snapshots.publish(rows(0, 4000), dir, "bucket", Seq("k"))
    val v2 = Snapshots.deleteVectored(
      Seq((100L, 0L), (1100L, 1L)).toDF("k", "bucket"), dir, "bucket", Seq("k"))
    assert(Snapshots.deletionVectorsAt(spark, dir, v2).size === 2)
    // merge rewrites bucket 0: its vector materializes (line drops),
    // bucket 1's carries
    val v3 = Snapshots.merge(Seq((5L, -1L, 0L)).toDF("k", "v", "bucket"),
      dir, "bucket", Seq("k"), Seq("k"))
    val dv3 = Snapshots.deletionVectorsAt(spark, dir, v3)
    assert(dv3.size === 1, s"bucket 0's vector materialized: ${dv3.keys}")
    assert(Snapshots.read(spark, dir).filter(col("k").isin(100L, 1100L))
      .count() === 0, "both deletes still hold after the rewrite")
    assert(Snapshots.read(spark, dir).filter(col("k") === 5L)
      .select("v").as[Long].head() === -1L)
    // compact: bucket 1 is NOT fragmented but carries a vector — it
    // rewrites anyway (the DV reclaim), leaving zero dv lines
    val v4 = Snapshots.compact(spark, dir, "bucket", Seq("k"))
    assert(v4 > v3)
    assert(Snapshots.deletionVectorsAt(spark, dir, v4).isEmpty,
      "compact materialized every remaining vector")
    assert(Snapshots.read(spark, dir).count() === 4000L - 2 + 0)
    assert(Snapshots.rowCountAt(spark, dir, v4) === Some(3998L))
    // nothing left to do: idempotent
    assert(Snapshots.compact(spark, dir, "bucket", Seq("k")) === v4)
    // vacuum reclaims the pre-materialization files
    val (dropped, deleted, _) = Snapshots.vacuum(spark, dir, v4, retainMs = 0)
    assert(dropped === 3L && deleted > 0L)
    assert(Snapshots.read(spark, dir).count() === 3998L)
  }

  test("SIDECAR vectors: a delete past the inline budget lands in ONE " +
    "immutable varint file per data file (#dvf — count rides in the " +
    "line so manifest row counts stay read-free), a re-grow writes new " +
    "sidecars, vacuum reclaims the orphans, compact materializes") {
    val dir = tmpDir("sidecar")
    // count .dvs payloads only (the local FS also writes .crc siblings)
    def dvFilesOnDisk = Option(new java.io.File(s"$dir/dv").listFiles())
      .map(_.count(_.getName.endsWith(".dvs"))).getOrElse(0)
    val big = spark.range(0, 20000, 1, 4).select(col("id").as("k"),
      (col("id") * 7L).as("v"), expr("id div 10000").as("bucket"))
    val v1 = Snapshots.publish(big, dir, "bucket", Seq("k"))
    // 10,000 dead positions over 2 files — far past Dv.InlineMax
    val v2 = Snapshots.deleteVectored(
      big.filter(col("k") % 2 === 0).select("k", "bucket"),
      dir, "bucket", Seq("k"))
    assert(Snapshots.files(spark, dir, v2) === Snapshots.files(spark, dir, v1))
    val mf = new java.io.File(f"$dir/_manifests/v$v2%020d")
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
    assert(lines.count(_.startsWith("#dvf:")) === 2 &&
      lines.count(_.startsWith("#dv:")) === 0,
      "both vectors went to sidecars, nothing inline")
    assert(dvFilesOnDisk === 2)
    assert(Snapshots.deletionVectorsAt(spark, dir, v2)
      .values.map(_.length).toSeq.sorted === Seq(5000, 5000))
    assert(Snapshots.rowCountAt(spark, dir, v2) === Some(10000L),
      "the line-carried counts keep rowCountAt manifest-only")
    assert(Snapshots.read(spark, dir).count() === 10000L)
    assert(Snapshots.read(spark, dir).filter(col("k") % 2 === 0).count() === 0)
    // grow: 20 more scattered keys — merged sets re-encode into NEW
    // sidecars (immutable files), the old two become orphans
    val v3 = Snapshots.deleteVectored(
      big.filter(col("k") % 1000 === 1).select("k", "bucket"),
      dir, "bucket", Seq("k"))
    assert(Snapshots.read(spark, dir).count() === 10000L - 20L)
    assert(dvFilesOnDisk === 4)
    val (_, deleted1, _) = Snapshots.vacuum(spark, dir, v3, retainMs = 0)
    assert(deleted1 === 2L, "exactly the two orphaned sidecars reclaimed")
    assert(dvFilesOnDisk === 2)
    assert(Snapshots.read(spark, dir).count() === 9980L, "still exact")
    // RENAME carries #dvf lines (the carry-list bug class): the
    // sidecar references survive a metadata-only rename and the
    // erased rows stay erased under the new name
    Snapshots.rename(spark, dir, "v", "val")
    assert(Snapshots.read(spark, dir).count() === 9980L,
      "sidecar vectors survived the rename — no resurrection")
    assert(Snapshots.deletionVectorsAt(spark, dir,
      Snapshots.latest(spark, dir).get).size === 2)
    // compact materializes both vectors; the final vacuum reclaims the
    // pre-delete data files AND the now-unreferenced sidecars
    val v4 = Snapshots.compact(spark, dir, "bucket", Seq("k"))
    assert(Snapshots.deletionVectorsAt(spark, dir, v4).isEmpty)
    Snapshots.vacuum(spark, dir, v4, retainMs = 0)
    assert(dvFilesOnDisk === 0)
    assert(Snapshots.read(spark, dir).count() === 9980L)
    assert(Snapshots.rowCountAt(spark, dir, v4) === Some(9980L))
  }

  test("positions are FILE-absolute across ROW-GROUP boundaries: a " +
    "multi-row-group file under a pushed-down range filter (which skips " +
    "early groups in the scan) still deletes exactly the recorded rows") {
    val dir = tmpDir("rg")
    // tiny parquet blocks force many row groups into one data file
    val one = spark.range(0, 50000, 1, 1).select(col("id").as("k"),
      (col("id") * 13L).as("v"), lit(0L).as("bucket"))
    val v1 = Snapshots.publish(one, dir, "bucket", Seq("k"),
      blockSize = 64L * 1024, numTasks = 1)
    val files = Snapshots.files(spark, dir, v1)
    assert(files.size === 1)
    val groups = graft.operators.Layout.rowGroupStatsFiles(spark,
      files.map(r => s"$dir/$r"), "k").size
    assert(groups > 1, s"the fixture must span row groups (got $groups)")
    val v2 = Snapshots.deleteVectored(
      one.filter(col("k") % 1000 === 0).select("k", "bucket"),
      dir, "bucket", Seq("k"))
    assert(Snapshots.files(spark, dir, v2) === files)
    assert(Snapshots.read(spark, dir).count() === 50000L - 50L)
    // the pushed-down range lands in LATE row groups; if row_index
    // were group-relative the anti-join would delete the wrong rows
    val late = Snapshots.read(spark, dir).filter(col("k") >= 40000L)
    assert(late.count() === 10000L - 10L)
    assert(late.filter(col("k") % 1000 === 0).count() === 0L,
      "exactly the recorded keys are dead in the late groups")
    assert(late.agg(sum("v")).as[Long].head() ===
      (40000L until 50000L).filter(_ % 1000 != 0).map(_ * 13L).sum)
  }

  test("deletion vectors COMPOSE with the layout tables: a width-bucketed " +
    "table DV-deletes through the generic path, the layout's own merge " +
    "CARRIES the untouched vector and materializes the touched one, and " +
    "its compact reclaims the rest") {
    import graft.operators.{BucketedTable => B}
    val dir = tmpDir("layout")
    B.publish(spark.range(0, 800, 1, 4).select(col("id").as("k"),
      (col("id") * 3L).as("v")), dir, "k", 100L)
    // generic DV delete: keys carry the PATH bucket (k div width)
    val v2 = Snapshots.deleteVectored(
      Seq((5L, 0L), (205L, 2L)).toDF("k", B.BCol), dir, B.BCol, Seq("k"))
    assert(Snapshots.files(spark, dir, v2) ===
      Snapshots.files(spark, dir, v2 - 1))
    assert(B.read(spark, dir).filter(col("k").isin(5L, 205L)).count() === 0)
    // the layout's own merge touches bucket 0: its vector MATERIALIZES
    // (k=5 stays gone), bucket 2's line carries untouched
    B.merge(Seq((7L, -7L)).toDF("k", "v"), dir, Seq("k"))
    assert(Snapshots.deletionVectorsAt(spark, dir,
      Snapshots.latest(spark, dir).get).size === 1)
    assert(B.read(spark, dir).filter(col("k").isin(5L, 205L)).count() === 0)
    assert(B.read(spark, dir).filter(col("k") === 7L)
      .select("v").as[Long].head() === -7L)
    // the layout compact targets the remaining DV file
    B.compact(spark, dir)
    assert(Snapshots.deletionVectorsAt(spark, dir,
      Snapshots.latest(spark, dir).get).isEmpty)
    assert(B.read(spark, dir).count() === 798L)
    // hash tables: the POINT LOOKUP applies vectors too (a lookup of
    // an erased key must not leak the dead row while full reads hide it)
    import graft.operators.{HashBucketedTable => H}
    val hDir = tmpDir("hash")
    H.publish(spark.range(0, 300, 1, 2).select(
      format_string("k%04d", col("id")).as("key"),
      (col("id") * 3L).as("v")), hDir, "key", 4L)
    val hv = Snapshots.deleteVectored(
      Seq("k0007").toDF("key")
        .withColumn(H.BCol, pmod(xxhash64(col("key")), lit(4L))),
      hDir, H.BCol, Seq("key"))
    assert(Snapshots.deletionVectorsAt(spark, hDir, hv).size === 1)
    assert(H.read(spark, hDir).filter(col("key") === "k0007").count() === 0)
    assert(H.lookupAt(spark, hDir, hv, Seq("k0007")).count() === 0,
      "lookupAt applies the vector — no dead-row leak")
    assert(H.lookupAt(spark, hDir, hv, Seq("k0008")).count() === 1)
  }

  test("diff and the change feed SEE deletion-vector deletes: a DV " +
    "commit changes no files, yet its newly-dead rows emit as deletes — " +
    "per-version net(feed) == diff, and already-dead rows never re-emit") {
    import graft.streaming.ChangeFeed
    val dir = tmpDir("feed")
    val v1 = Snapshots.publish(rows(0, 3000), dir, "bucket", Seq("k"))
    val v2 = Snapshots.deleteVectored(
      rows(0, 3000).filter(col("k") % 500 === 0).select("k", "bucket"),
      dir, "bucket", Seq("k"))
    // a second DV step deletes one LIVE key plus one ALREADY-DEAD key:
    // only the newly-dead position emits
    val v3 = Snapshots.deleteVectored(
      Seq((999L, 0L), (0L, 0L)).toDF("k", "bucket"), dir, "bucket", Seq("k"))
    // diff sees exactly the newly-dead rows per step
    val d12 = Snapshots.diff(spark, dir, v1, v2)
    assert(d12.filter(col("_change") === "insert").count() === 0)
    assert(d12.filter(col("_change") === "delete")
      .select("k").as[Long].collect().sorted.toSeq ===
      Seq(0L, 500L, 1000L, 1500L, 2000L, 2500L))
    val d23 = Snapshots.diff(spark, dir, v2, v3)
    assert(d23.select("k", "_change").as[(Long, String)].collect().toSet ===
      Set((999L, "delete")), "0 was already dead at v2 — never re-emits")
    // end-to-end diff across both steps
    assert(Snapshots.diff(spark, dir, v1, v3)
      .filter(col("_change") === "delete").count() === 7)
    // the LIVE feed: drain all versions, net per version == diff
    val feed = ChangeFeed.readStream(spark, dir)
    val q = feed.writeStream.format("memory").queryName("dvfeed")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val drained = spark.table("dvfeed")
    val step2 = ChangeFeed.net(
      drained.filter(col("_version") === v2).drop("_version"))
    assert(step2.filter(col("_change") === "delete")
      .select("k").as[Long].collect().sorted.toSeq ===
      Seq(0L, 500L, 1000L, 1500L, 2000L, 2500L))
    assert(step2.filter(col("_change") === "insert").count() === 0)
    val step3 = ChangeFeed.net(
      drained.filter(col("_version") === v3).drop("_version"))
    assert(step3.select("k", "_change").as[(Long, String)].collect().toSet ===
      Set((999L, "delete")))
    // genesis step sanity: the feed's v1 inserts are the full table
    assert(drained.filter(col("_version") === v1).count() === 3000L)
  }

  test("a table DIRECTORY whose last segment is itself named 'data' " +
    "still derives correct rel paths: DV deletes apply on read (the " +
    "'/data/' substring-split regression — rel paths came out " +
    "data/data/... and erased rows silently resurrected)") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv_dataroot")
    root.toFile.deleteOnExit()
    val dir = root.toString + "/data" // the trap: <...>/data/data/<token>/
    val df = rows(0, 4000)
    val v1 = Snapshots.publish(df, dir, "bucket", Seq("k"))
    val doomed = df.filter(col("k") % 53 === 0).select("k", "bucket")
    val nDoomed = (0 until 4000).count(_ % 53 == 0)
    val v2 = Snapshots.deleteVectored(doomed, dir, "bucket", Seq("k"))
    assert(v2 === v1 + 1, "the delete matched and committed")
    assert(Snapshots.read(spark, dir).count() === 4000L - nDoomed,
      "the erased rows stay erased — rel paths matched the manifest's")
    assert(Snapshots.read(spark, dir).filter(col("k") % 53 === 0).count() === 0)
    assert(Snapshots.readAt(spark, dir, v1).count() === 4000L, "time travel")
    // withPos plumbing under the same root: a second delete still
    // dedupes against the first (already-dead rows never double-record)
    assert(Snapshots.deleteVectored(doomed, dir, "bucket", Seq("k")) === v2,
      "re-deleting the same keys is a no-op under the /data root too")
  }

  test("DEEP sidecar debt reads through a per-row test in the scanning " +
    "task: no driver LocalRelation and no join for the vector in the " +
    "plan — answers identical") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    val dir = tmpDir("deepdebt")
    val big = spark.range(0, 30000, 1, 4).select(col("id").as("k"),
      (col("id") * 7L).as("v"), expr("id div 10000").as("bucket"))
    Snapshots.publish(big, dir, "bucket", Seq("k"))
    // 15,000 dead over 3 files — all past Dv.InlineMax: sidecars only
    val vDel = Snapshots.deleteVectored(
      big.filter(col("k") % 2 === 0).select("k", "bucket"),
      dir, "bucket", Seq("k"))
    val mLines = scala.io.Source.fromFile(
      new java.io.File(f"$dir/_manifests/v$vDel%020d"), "UTF-8").getLines().toList
    assert(mLines.count(_.startsWith("#dvf:")) === 3, "the vectors are sidecars")
    val expect = 15000L
    val read = Snapshots.read(spark, dir)
    val plan = read.queryExecution.optimizedPlan
    assert(plan.collect { case l: LocalRelation => l }.isEmpty,
      s"NO driver LocalRelation in the plan:\n$plan")
    assert(plan.collect { case j: Join => j }.isEmpty,
      s"NO join applies the vector:\n$plan")
    assert(read.count() === expect)
    assert(read.filter(col("k") % 2 === 0).count() === 0)
    assert(read.agg(sum("v")).head().getLong(0) ===
      big.filter(col("k") % 2 =!= 0).agg(sum("v")).head().getLong(0))
    // the pruned-scan surface takes the same path
    assert(Snapshots.prunedScanAtBy(spark, dir,
      Snapshots.latest(spark, dir).get, "k", 100L, 300L).count() === 100L)
  }

  test("the LAYOUT tables' OWN deleteVectored (z-order, across a shift " +
    "evolution): a scattered erasure commits metadata-only through the " +
    "layout's per-epoch cell arithmetic — zero files written, reads and " +
    "diff see the deletes, compact materializes") {
    import graft.operators.ZOrderTable
    val dir = tmpDir("zdv")
    val grid = spark.range(0, 20000, 1, 8).select(
      col("id"),
      (col("id") * 7919 % 65536).as("x"),
      (col("id") * 104729 % 65536).as("y"),
      (col("id") * 3).as("v"))
    ZOrderTable.publish(grid, dir, Seq("x", "y"), shift = 26)
    // EPOCH MIX: evolve the shift, append a second load — candidate
    // cells must be computed at EACH epoch's shift
    ZOrderTable.evolveShift(spark, dir, 24)
    ZOrderTable.append(spark.range(20000, 30000, 1, 4).select(
      col("id"),
      (col("id") * 7919 % 65536).as("x"),
      (col("id") * 104729 % 65536).as("y"),
      (col("id") * 3).as("v")), dir)
    val vPre = Snapshots.latest(spark, dir).get
    val filesPre = Snapshots.files(spark, dir, vPre)
    // scattered keys from BOTH epochs' loads, dims carried
    val doomed = ZOrderTable.read(spark, dir)
      .filter(col("id") % 501 === 0).select("id", "x", "y")
    val nDoomed = (0 until 30000).count(_ % 501 == 0)
    val vDel = ZOrderTable.deleteVectored(doomed, dir, Seq("id"))
    assert(vDel === vPre + 1)
    assert(Snapshots.files(spark, dir, vDel) === filesPre,
      "metadata-only: the exact same data files across both epochs")
    assert(ZOrderTable.read(spark, dir).count() === 30000L - nDoomed)
    assert(ZOrderTable.read(spark, dir)
      .filter(col("id") % 501 === 0).count() === 0)
    // diff (the feed's source of truth) emits exactly the dead keys
    val d = Snapshots.diff(spark, dir, vPre, vDel)
    assert(d.filter(col("_change") === "insert").count() === 0)
    assert(d.filter(col("_change") === "delete")
      .select("id").as[Long].collect().toSet ===
      (0 until 30000).filter(_ % 501 == 0).map(_.toLong).toSet)
    // re-delete: no-op; compact materializes and drops the vectors
    assert(ZOrderTable.deleteVectored(doomed, dir, Seq("id")) === vDel)
    val vC = ZOrderTable.compact(spark, dir)
    assert(Snapshots.deletionVectorsAt(spark, dir, vC).isEmpty)
    assert(ZOrderTable.read(spark, dir).count() === 30000L - nDoomed)
  }

  test("the LAYOUT tables' OWN deleteVectored (quantile-MAPPED z + " +
    "hash-bucketed): mapped dims re-derive their grid codes from the " +
    "stored cuts, hash keys locate per-epoch — both erasures zero-file") {
    import graft.operators.{HashBucketedTable, ZOrderTable}
    // mapped z: RAW timestamp x double dims
    val zdir = tmpDir("zmdv")
    val mk = spark.range(0, 6000, 1, 4).select(
      col("id"),
      expr("timestamp_micros(1000000000 + id * 1000000)").as("ts"),
      (col("id") % 977 * 1.5).as("price"),
      (col("id") * 7).as("v"))
    ZOrderTable.publishMapped(mk, zdir, Seq("ts", "price"), shift = 26,
      buckets = 64)
    val filesZ = Snapshots.files(spark, zdir,
      Snapshots.latest(spark, zdir).get)
    val doomedZ = ZOrderTable.read(spark, zdir)
      .filter(col("id") % 193 === 0).select("id", "ts", "price")
    val nZ = (0 until 6000).count(_ % 193 == 0)
    val vZ = ZOrderTable.deleteVectored(doomedZ, zdir, Seq("id"))
    assert(Snapshots.files(spark, zdir, vZ) === filesZ, "zero files (mapped)")
    assert(ZOrderTable.read(spark, zdir).count() === 6000L - nZ)
    assert(ZOrderTable.read(spark, zdir)
      .filter(col("id") % 193 === 0).count() === 0)
    // hash: string keys, epoch mix via evolveBuckets + append
    val hdir = tmpDir("hdv")
    def hrows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 4).select(
      concat(lit("k"), lpad(col("id").cast("string"), 6, "0")).as("key"),
      (col("id") * 11).as("payload"))
    HashBucketedTable.publish(hrows(0, 8000), hdir, "key", 8)
    HashBucketedTable.evolveBuckets(spark, hdir, 16)
    HashBucketedTable.append(hrows(8000, 12000), hdir)
    val vPreH = Snapshots.latest(spark, hdir).get
    val filesH = Snapshots.files(spark, hdir, vPreH)
    val doomedH = hrows(0, 12000).filter(
      expr("cast(substring(key, 2) as long) % 709 = 0")).select("key")
    val nH = (0 until 12000).count(_ % 709 == 0)
    val vH = HashBucketedTable.deleteVectored(doomedH, hdir, Seq("key"))
    assert(Snapshots.files(spark, hdir, vH) === filesH,
      "zero files across both hash epochs")
    assert(HashBucketedTable.read(spark, hdir).count() === 12000L - nH)
    assert(HashBucketedTable.lookupAt(spark, hdir, vH, Seq("k000000"))
      .count() === 0, "the point lookup sees the vector too")
    assert(HashBucketedTable.lookupAt(spark, hdir, vH, Seq("k000001"))
      .count() === 1)
    // non-string probe keys still refuse (the string-key contract)
    intercept[IllegalArgumentException] {
      import spark.implicits._
      HashBucketedTable.deleteVectored(
        Seq(1L).toDF("key"), hdir, Seq("key"))
    }
    // hash compact materializes the vectors
    val vHC = HashBucketedTable.compact(spark, hdir)
    assert(Snapshots.deletionVectorsAt(spark, hdir, vHC).isEmpty)
    assert(HashBucketedTable.read(spark, hdir).count() === 12000L - nH)
  }

  test("a vectored delete scans its candidate files once, never from a " +
    "cache: one input-reading stage, no InMemoryTableScan in any plan, " +
    "and a pinned job count") {
    val dir = tmpDir("onescan")
    val n = 40000L
    val df = spark.range(0, n, 1, 4).select(col("id").as("k"),
      (col("id") * 3L).as("v"), expr("id div 10000").as("bucket"))
    Snapshots.publish(df, dir, "bucket", Seq("k"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // stages that read data files (input bytes > 0); the keys come from
    // spark.range, so only a candidate-file scan reads input
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.inputMetrics.bytesRead > 0) scans.incrementAndGet()
    }
    // registered before jobsOf's own listener: when jobsOf returns, this
    // one has seen every event of the delete
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(ql)
    val jobs = try jobsOf {
      Snapshots.deleteVectored(
        df.filter(col("k") % 997 === 0).select("k", "bucket"),
        dir, "bucket", Seq("k"))
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(sl)
    }
    assert(scans.get === 1, s"${scans.get} stages read the candidate files")
    import scala.jdk.CollectionConverters._
    assert(!plans.asScala.exists(_.contains("InMemoryTableScan")),
      "no action plans against a cached frame")
    // the bucket lookup, the broadcast keys and the one grow pass
    assert(jobs <= 4, s"a vectored delete ran $jobs jobs")
    assert(Snapshots.read(spark, dir).count() === n - (n + 996) / 997)
  }

  test("a vectored delete leaves no cache behind and reads back the same " +
    "rows as a rewriting delete of the same keys, while writing no data " +
    "file") {
    val df = spark.range(0, 40000L, 1, 4).select(col("id").as("k"),
      (col("id") * 3L).as("v"), expr("id div 10000").as("bucket"))
    val dirVec = tmpDir("vec_vs_cow_v")
    val dirCow = tmpDir("vec_vs_cow_c")
    val v1 = Snapshots.publish(df, dirVec, "bucket", Seq("k"))
    Snapshots.publish(df, dirCow, "bucket", Seq("k"))
    val keys = df.filter(col("k") % 997 === 0).select("k", "bucket")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val v2 = Snapshots.deleteVectored(keys, dirVec, "bucket", Seq("k"))
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore,
      "the delete persisted an RDD and left it behind")
    assert(keys.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the delete cached its keys")
    assert(Snapshots.files(spark, dirVec, v2) ===
      Snapshots.files(spark, dirVec, v1), "metadata-only: the same files")
    Snapshots.delete(keys, dirCow, "bucket", Seq("k"), Seq("k"))
    def sorted(dir: String) = Snapshots.read(spark, dir).select("k", "v")
      .as[(Long, Long)].collect().sorted.toSeq
    val got = sorted(dirVec)
    assert(got.size === 40000 - (40000 + 996) / 997)
    assert(got === sorted(dirCow), "vectored and rewriting deletes differ")
  }

  test("vectors are grown in TASKS: no Dataset-level collect of the (file, " +
    "position) pairs ever runs, sidecars land, and every vector equals an " +
    "independent model — the row_index of the matching rows read straight " +
    "from each data file") {
    val dir = tmpDir("dvdist")
    val df = spark.range(0, 60000L, 1, 4).select(col("id").as("k"),
      (col("id") * 3L).as("v"), expr("id div 15000").as("bucket"))
    Snapshots.publish(df, dir, "bucket", Seq("k"))
    // id % 3: 5000 positions per 15000-row file — past Dv.InlineMax,
    // so the tasks write real SIDECARS, not inline lines
    val keys = spark.range(0, 60000L).filter(col("id") % 3 === 0)
      .select(col("id").as("k"), expr("id div 15000").as("bucket"))
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect") collects.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      jobsOf(Snapshots.deleteVectored(keys, dir, "bucket", Seq("k")))
      import scala.jdk.CollectionConverters._
      val cs = collects.iterator().asScala.toList
      assert(cs.forall(_.contains("HashAggregate")),
        s"every Dataset collect is an aggregate — a non-aggregated collect " +
          s"means the pairs landed on the driver:\n${cs.mkString("\n----\n")}")
    } finally spark.listenerManager.unregister(ql)
    val v = Snapshots.latest(spark, dir).get
    val got = Snapshots.deletionVectorsAt(spark, dir, v)
    val files = Snapshots.files(spark, dir, v)
    assert(got.keySet === files.toSet, "every file was touched")
    files.foreach { rel =>
      val model = spark.read.parquet(s"$dir/$rel")
        .filter(col("k") % 3 === 0)
        .select(col("_metadata.row_index")).collect().map(_.getLong(0)).sorted
      assert(got(rel).toSeq === model.toSeq,
        s"positions of $rel differ from the file's own row indexes")
    }
    assert(Snapshots.read(spark, dir).count() === 40000L)
    assert(Snapshots.read(spark, dir).filter(col("k") % 3 === 0).count() === 0)
    val mf = new java.io.File(f"$dir/_manifests/v$v%020d")
    val mLines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toList
    assert(mLines.count(_.startsWith("#dvf:")) === 4 &&
      mLines.count(_.startsWith("#dv:")) === 0,
      "5000 positions/file > InlineMax — all four lines must be #dvf " +
        "sidecars written from tasks")
  }

  test("a refused delete writes no sidecar for the over-budget file and " +
    "commits nothing") {
    // one 1.1M-row file (bucket 0) and one 10k-row file (bucket 1)
    val dir = tmpDir("huge")
    val huge = spark.range(0, 1110000, 1, 4).select(col("id").as("k"),
      expr("if(id < 1100000, 0L, 1L)").as("bucket"))
    val v1 = Snapshots.publish(huge, dir, "bucket", Seq("k"))
    def sidecars: Seq[java.io.File] = Option(new java.io.File(s"$dir/dv").listFiles())
      .map(_.toSeq.filter(_.getName.endsWith(".dvs"))).getOrElse(Nil)
    // growing bucket 0's vector past Dv.MaxInlinePositions refuses
    // loudly (use the copy-on-write delete at that churn); bucket 1's
    // 5000 positions are within budget
    val e = intercept[IllegalArgumentException] {
      Snapshots.deleteVectored(huge.filter(
          col("bucket") === 0L && col("k") % 21 =!= 0 ||
            col("bucket") === 1L && col("k") % 2 === 0),
        dir, "bucket", Seq("k"))
    }
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    assert(Snapshots.versions(spark, dir) === Seq(v1),
      "the refused erasure committed nothing")
    // the within-budget file's task may have written its sidecar (an
    // orphan for vacuum); the over-budget file's task wrote none
    val sizes = sidecars.map(f =>
      Dv.decodeBytes(java.nio.file.Files.readAllBytes(f.toPath)).length)
    assert(sizes.forall(_ == 5000), s"sidecar sizes on disk: $sizes")
    assert(Snapshots.read(spark, dir).count() === 1110000L)
  }

  test("reading more sidecar positions than the cache bound still answers " +
    "exactly, and the cache never holds more than its bound") {
    val dir = tmpDir("cachebound")
    val df = spark.range(0, 1200000L, 1, 4).select(col("id").as("k"),
      expr("id div 400000").as("bucket"))
    Snapshots.publish(df, dir, "bucket", Seq("k"))
    // 360k dead per file, 1.08M in all: past Dv.CachePositions
    Snapshots.deleteVectored(df.filter(col("k") % 10 =!= 0), dir, "bucket", Seq("k"))
    assert(Dv.cachedPositions <= Dv.CachePositions)
    val v = Snapshots.latest(spark, dir).get
    assert(Snapshots.deadRowsAt(spark, dir, v) === 1080000L)
    assert(Snapshots.deadRowsAt(spark, dir, v) > Dv.CachePositions)
    Snapshots.clearCaches()
    assert(Snapshots.read(spark, dir).count() === 120000L)
    assert(Snapshots.read(spark, dir).filter(col("k") % 10 =!= 0).count() === 0)
    assert(Dv.cachedPositions <= Dv.CachePositions)
    // every vector, resolved in turn on the driver, is still exact
    Snapshots.deletionVectorsAt(spark, dir, v).values.foreach(ps =>
      assert(ps.length === 360000))
    assert(Dv.cachedPositions <= Dv.CachePositions)
  }
}
