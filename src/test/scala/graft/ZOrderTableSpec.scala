package graft

import org.apache.spark.sql.functions._

import graft.operators.{Snapshots, ZOrderTable}

/** Z-order table layout: closed-form box pruning (a power-of-2-aligned
  * box reads EXACTLY its intersecting curve cells), correctness of the
  * pruned scan vs the full filter, layout carry through
  * append/merge/delete, and the Hilbert variant. */
class ZOrderTableSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_zt_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  /** 20k rows scattered deterministically over the 16-bit grid. */
  private def grid() =
    spark.range(0, 20000, 1, 8).select(
      col("id"),
      (col("id") * 7919 % 65536).as("x"),
      (col("id") * 104729 % 65536).as("y"),
      (col("id") * 3).as("v"))

  test("closed-form box pruning: shift 26 = 64 level-3 cells; the " +
    "aligned quadrant box [0,16384)^2 reads EXACTLY 4 files, a single-" +
    "dim window 16, and the pruned scan equals the full filter") {
    val dir = tmpDir("box")
    val v = ZOrderTable.publish(grid(), dir, Seq("x", "y"), shift = 26)
    val all = Snapshots.files(spark, dir, v)
    assert(all.size === 64, s"one file per occupied cell, got ${all.size}")
    // the box is cell-aligned (2x2 cells of 8192): exactly 4 survive
    val box = Seq(("x", 0L, 16384L), ("y", 0L, 16384L))
    assert(ZOrderTable.boxFiles(spark, dir, v, box).size === 4)
    // one dimension alone: 2 of 8 cell columns x all 8 rows = 16
    assert(ZOrderTable.boxFiles(spark, dir, v,
      Seq(("x", 0L, 16384L))).size === 16)
    assert(ZOrderTable.boxFiles(spark, dir, v,
      Seq(("y", 0L, 16384L))).size === 16)
    // non-aligned boxes stay conservative-correct (and can't read fewer
    // files than the cells they intersect: [1000,17000) spans 3 columns)
    assert(ZOrderTable.boxFiles(spark, dir, v,
      Seq(("x", 1000L, 17000L))).size === 24)
    // pruned == full filter, rows and content
    val pruned = ZOrderTable.box(spark, dir, v, box)
      .select("id", "x", "y").orderBy("id")
    val full = ZOrderTable.readAt(spark, dir, v)
      .filter(col("x") < 16384 && col("y") < 16384)
      .select("id", "x", "y").orderBy("id")
    assert(pruned.collect().toSeq === full.collect().toSeq)
  }

  test("layout carries: append and merge re-derive the SAME cells from " +
    "the manifest property; delete rewrites only touched cells") {
    val dir = tmpDir("carry")
    val base = grid().filter(col("id") < 15000)
    ZOrderTable.publish(base, dir, Seq("x", "y"), shift = 26)
    assert(ZOrderTable.currentLayout(spark, dir) ===
      ZOrderTable.ZLayout("z", 26, Seq("x", "y")))
    // append new rows: layout re-derived, no layout args needed
    val v2 = ZOrderTable.append(grid().filter(col("id") >= 15000), dir)
    assert(ZOrderTable.readAt(spark, dir, v2).count() === 20000)
    // pruned merge: key determines the cell (dims part of the key) —
    // update row 7's ATTRIBUTE in place
    val x7 = 7L * 7919 % 65536
    val y7 = 7L * 104729 % 65536
    val upd = Seq((7L, x7, y7, 999L)).toDF("id", "x", "y", "v")
    val v3 = ZOrderTable.merge(upd, dir, Seq("id", "x", "y"))
    val got = ZOrderTable.read(spark, dir).filter(col("id") === 7)
      .select("v").as[Long].collect()
    assert(got.toSeq === Seq(999L))
    assert(ZOrderTable.readAt(spark, dir, v3).count() === 20000)
    // a key that does NOT determine the cell refuses the pruned path
    intercept[IllegalArgumentException] {
      ZOrderTable.merge(upd, dir, Seq("id"))
    }
    // delete by key (keys carry the dims to locate cells)
    val pre = Snapshots.files(spark, dir, v3).toSet
    val v4 = ZOrderTable.delete(Seq((7L, x7, y7)).toDF("id", "x", "y"),
      dir, Seq("id", "x", "y"))
    assert(ZOrderTable.readAt(spark, dir, v4)
      .filter(col("id") === 7).count() === 0)
    assert(ZOrderTable.readAt(spark, dir, v4).count() === 19999)
    val post = Snapshots.files(spark, dir, v4).toSet
    // only the origin cell's file was rewritten
    assert((pre -- post).size <= 2 && (post -- pre).size <= 1,
      s"delete rewrote more than the touched cell: -${pre -- post} +${post -- pre}")
    // time travel across it all still works
    assert(ZOrderTable.readAt(spark, dir, v2).count() === 20000)
  }

  test("mergeMoving relocates a row whose dims changed: old cell loses " +
    "it, new cell gains it, exactly one copy survives") {
    val dir = tmpDir("move")
    ZOrderTable.publish(grid(), dir, Seq("x", "y"), shift = 26)
    // move row 7 (an attribute-dim upsert: key = id alone) to the
    // origin cell and change its attribute
    val v2 = ZOrderTable.mergeMoving(
      Seq((7L, 5L, 5L, 777L)).toDF("id", "x", "y", "v"), dir, Seq("id"))
    val got = ZOrderTable.read(spark, dir).filter(col("id") === 7)
      .select("x", "y", "v").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((5L, 5L, 777L)), "exactly one moved copy")
    assert(ZOrderTable.readAt(spark, dir, v2).count() === 20000)
    // the old position no longer holds id 7
    val x7 = 7L * 7919 % 65536
    val y7 = 7L * 104729 % 65536
    assert(ZOrderTable.read(spark, dir)
      .filter(col("x") === x7 && col("y") === y7 && col("id") === 7)
      .count() === 0)
    // a brand-new key through the same path is a pure insert
    val v3 = ZOrderTable.mergeMoving(
      Seq((99999L, 9L, 9L, 1L)).toDF("id", "x", "y", "v"), dir, Seq("id"))
    assert(ZOrderTable.readAt(spark, dir, v3).count() === 20001)
    // time travel: the pre-move version still shows the old position
    assert(ZOrderTable.readAt(spark, dir, 1L)
      .filter(col("id") === 7).select("x", "y").as[(Long, Long)]
      .head() === ((x7, y7)))
  }

  test("Hilbert curve variant: same closed-form cell pruning (cells are " +
    "quadrant-recursive for both curves), same correctness") {
    val dir = tmpDir("hilbert")
    val v = ZOrderTable.publish(grid(), dir, Seq("x", "y"), shift = 26,
      curve = "h")
    assert(Snapshots.files(spark, dir, v).size === 64)
    val box = Seq(("x", 0L, 16384L), ("y", 0L, 16384L))
    assert(ZOrderTable.boxFiles(spark, dir, v, box).size === 4)
    val pruned = ZOrderTable.box(spark, dir, v, box)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    val full = ZOrderTable.readAt(spark, dir, v)
      .filter(col("x") < 16384 && col("y") < 16384)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(pruned === full)
  }

  test("COMPOSITION: the change feed streams a z-order table's history; " +
    "a mergeMoving relocation nets to exactly the diff per step, with the " +
    "move visible as a delete at the old cell + an insert at the new") {
    import graft.streaming.ChangeFeed
    val dir = tmpDir("feed")
    val small = grid().filter(col("id") < 3000)
    ZOrderTable.publish(small.filter(col("id") < 2000), dir,
      Seq("x", "y"), shift = 26)
    ZOrderTable.append(small.filter(col("id") >= 2000), dir)
    ZOrderTable.mergeMoving(
      Seq((7L, 5L, 5L, 777L)).toDF("id", "x", "y", "v"), dir, Seq("id"))
    val q = ChangeFeed.readStream(spark, dir, 0L)
      .writeStream.outputMode("append").format("memory")
      .queryName("zt_feed").start()
    try q.processAllAvailable() finally q.stop()
    val net = ChangeFeed.net(spark.table("zt_feed"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    for (v <- 2L to 3L) {
      val d = Snapshots.diff(spark, dir, v - 1, v)
        .withColumn("_version", lit(v))
      val got = net.filter(col("_version") === v)
        .select(d.columns.map(col): _*)
      assert(rows(got) === rows(d), s"net(feed) != diff at step $v")
    }
    // the relocation is row-level CDC: id 7 leaves its old cell and
    // lands at the origin, in ONE version step
    val x7 = 7L * 7919 % 65536
    val mv = net.filter(col("_version") === 3L && col("id") === 7)
      .select("_change", "x", "y", "v").as[(String, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(mv === Seq(("delete", x7, 7L * 104729 % 65536, 21L),
      ("insert", 5L, 5L, 777L)))
  }

  test("shift evolution: evolveShift is metadata-only; epochs coexist; " +
    "cross-epoch merge/delete pick their rewrite sets by per-epoch prefix " +
    "arithmetic; compact is the migrator; box pruning stays exact at any " +
    "epoch mix") {
    val dir = tmpDir("evolve")
    val v1 = ZOrderTable.publish(grid().filter(col("id") < 15000), dir,
      Seq("x", "y"), shift = 26)
    assert(Snapshots.files(spark, dir, v1).size === 64)
    // metadata-only: same files byte for byte, only the prop changes
    val v2 = ZOrderTable.evolveShift(spark, dir, 28)
    assert(Snapshots.files(spark, dir, v2) === Snapshots.files(spark, dir, v1))
    assert(ZOrderTable.currentLayout(spark, dir).shift === 28)
    assert(ZOrderTable.fileShifts(spark, dir, v2).values.toSet === Set(26))
    // append at the NEW shift: epochs coexist (16 new cells possible)
    val v3 = ZOrderTable.append(grid().filter(col("id") >= 15000), dir)
    assert(ZOrderTable.fileShifts(spark, dir, v3).values.toSet === Set(26, 28))
    assert(ZOrderTable.readAt(spark, dir, v3).count() === 20000)
    // cross-epoch pruned merge: one key, dims in key — the rewrite set
    // is located at BOTH epochs (its cell at 26 and at 28)
    val x7 = 7L * 7919 % 65536
    val y7 = 7L * 104729 % 65536
    val pre = Snapshots.files(spark, dir, v3).toSet
    val v4 = ZOrderTable.merge(
      Seq((7L, x7, y7, 424242L)).toDF("id", "x", "y", "v"),
      dir, Seq("id", "x", "y"))
    assert(ZOrderTable.read(spark, dir).filter(col("id") === 7)
      .select("v").as[Long].head() === 424242L)
    assert(ZOrderTable.readAt(spark, dir, v4).count() === 20000)
    val post = Snapshots.files(spark, dir, v4).toSet
    assert((pre -- post).size <= 2, s"merge rewrote ${(pre -- post).size} " +
      "files — the per-epoch cell arithmetic should touch at most one per epoch")
    // box pruning stays EXACT across the epoch mix
    val box = Seq(("x", 0L, 16384L), ("y", 0L, 16384L))
    val pruned = ZOrderTable.box(spark, dir, v4, box)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    val full = ZOrderTable.readAt(spark, dir, v4)
      .filter(col("x") < 16384 && col("y") < 16384)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(pruned === full)
    // the migrator: every stale file rewrites; one file per cell at 28
    val v5 = ZOrderTable.compact(spark, dir)
    assert(ZOrderTable.fileShifts(spark, dir, v5).values.toSet === Set(28))
    val cells = Snapshots.files(spark, dir, v5)
      .map(f => Snapshots.fileBucket(f).get)
    assert(cells.distinct.size === cells.size, "one file per cell")
    assert(cells.toSet === (0L until 16L).toSet, "16 level-2 cells")
    // migration moved nothing
    val a = ZOrderTable.readAt(spark, dir, v5).orderBy("id")
      .select("id", "x", "y", "v").collect().toSeq
    val b = ZOrderTable.readAt(spark, dir, v4).orderBy("id")
      .select("id", "x", "y", "v").collect().toSeq
    assert(a === b)
    // closed form at the coarser grid: the quadrant box = ONE cell,
    // an x-window = a 1x4 cell column
    assert(ZOrderTable.boxFiles(spark, dir, v5, box).size === 1)
    assert(ZOrderTable.boxFiles(spark, dir, v5,
      Seq(("x", 0L, 16384L))).size === 4)
    // idempotent
    assert(ZOrderTable.compact(spark, dir) === v5)
    // renaming a layout dimension refuses
    intercept[IllegalArgumentException] {
      Snapshots.rename(spark, dir, "x", "x2")
    }
    // renaming a NON-dimension column carries the epoch lines — the
    // per-epoch merge arithmetic survives the rename
    Snapshots.rename(spark, dir, "v", "val")
    assert(ZOrderTable.fileShifts(spark, dir,
      Snapshots.latest(spark, dir).get).values.toSet === Set(28))
    assert(ZOrderTable.read(spark, dir).columns.contains("val"))
    // a further cross-epoch merge keeps every other row's renamed value
    ZOrderTable.merge(Seq((7L, x7, y7, 5L)).toDF("id", "x", "y", "val"),
      dir, Seq("id", "x", "y"))
    RenameCarry.check(spark, dir, ZOrderTable.read(spark, dir), "id", "val",
      (0 until 20000).map(i => i.toString -> i * 3L).toMap + ("7" -> 5L),
      "merge")
  }

  test("after a payload rename EVERY z write keeps the renamed column " +
    "readable and the #colmap line: append, evolve, evolve + compact, " +
    "merge, delete") {
    def want(ids: Range) = ids.map(i => i.toString -> i * 3L).toMap
    val x7 = 7L * 7919 % 65536
    val y7 = 7L * 104729 % 65536
    val cases: Seq[(String, String => Unit, Map[String, Long])] = Seq(
      ("append", d => ZOrderTable.append(grid()
        .filter(col("id") >= 600 && col("id") < 620)
        .withColumnRenamed("v", "val"), d), want(0 until 620)),
      ("evolveShift", d => ZOrderTable.evolveShift(spark, d, 28), want(0 until 600)),
      ("evolveShift + compact", { d =>
        ZOrderTable.evolveShift(spark, d, 28); ZOrderTable.compact(spark, d)
      }, want(0 until 600)),
      ("merge", d => ZOrderTable.merge(
        Seq((7L, x7, y7, 5L)).toDF("id", "x", "y", "val"), d,
        Seq("id", "x", "y")), want(0 until 600) + ("7" -> 5L)),
      ("delete", d => ZOrderTable.delete(grid().filter(col("id") < 10)
        .select("id", "x", "y"), d, Seq("id")), want(10 until 600)))
    RenameCarry.all(cases.map { case (what, write, expected) => what -> { () =>
      val dir = tmpDir("renw")
      ZOrderTable.publish(grid().filter(col("id") < 600), dir, Seq("x", "y"),
        shift = 26)
      Snapshots.rename(spark, dir, "v", "val")
      write(dir)
      RenameCarry.check(spark, dir, ZOrderTable.read(spark, dir), "id", "val",
        expected, what)
    }})
  }

  test("3-dimensional layout: shift 42 on the 48-bit key = 4x4x4 cells; " +
    "the aligned octant box reads exactly 8 files, a one-dim window 16, " +
    "and the pruned scan equals the full filter") {
    val dir = tmpDir("d3")
    val rows = spark.range(0, 20000, 1, 8).select(
      col("id"),
      (col("id") * 7919 % 65536).as("x"),
      (col("id") * 104729 % 65536).as("y"),
      (col("id") * 1299721 % 65536).as("z"))
    val v = ZOrderTable.publish(rows, dir, Seq("x", "y", "z"), shift = 42)
    assert(Snapshots.files(spark, dir, v).size === 64)
    // cells are 16384 wide per dim; [0,32768)^3 = 2x2x2 aligned cells
    val oct = Seq(("x", 0L, 32768L), ("y", 0L, 32768L), ("z", 0L, 32768L))
    assert(ZOrderTable.boxFiles(spark, dir, v, oct).size === 8)
    assert(ZOrderTable.boxFiles(spark, dir, v,
      Seq(("z", 0L, 16384L))).size === 16)
    val pruned = ZOrderTable.box(spark, dir, v, oct)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    val full = ZOrderTable.readAt(spark, dir, v)
      .filter(col("x") < 32768 && col("y") < 32768 && col("z") < 32768)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(pruned === full)
  }

  test("mergeBatch: the exactly-once ledger over the clustered layout — " +
    "bootstrap is stamped, replays of ANY applied id are no-ops, applied " +
    "batches land in their cells") {
    val dir = tmpDir("ledger")
    val layout = ZOrderTable.ZLayout("z", 26, Seq("x", "y"))
    val sink = ZOrderTable.foreachBatchMerge(dir, Seq("id", "x", "y"), layout)
    def batch(lo: Long, hi: Long) =
      grid().filter(col("id") >= lo && col("id") < hi)
    sink(batch(0, 5000), 0L) // bootstrap
    val v1 = Snapshots.latest(spark, dir).get
    assert(Snapshots.lastAppliedBatch(spark, dir) === Some(0L))
    assert(ZOrderTable.currentLayout(spark, dir) === layout)
    sink(batch(5000, 9000), 1L)
    val v2 = Snapshots.latest(spark, dir).get
    assert(ZOrderTable.read(spark, dir).count() === 9000)
    // replay of batch 1 AND of the bootstrap: absorbed, no new version
    sink(batch(5000, 9000), 1L)
    sink(batch(0, 5000), 0L)
    assert(Snapshots.latest(spark, dir).get === v2)
    assert(ZOrderTable.read(spark, dir).count() === 9000)
    // batch 2 REPLACES an overlapping key range (upsert, not append)
    sink(batch(8000, 9000)
      .withColumn("v", col("v") + 1000000L), 2L)
    assert(ZOrderTable.read(spark, dir).count() === 9000)
    assert(ZOrderTable.read(spark, dir)
      .filter(col("id") === 8500).select("v").as[Long].head() ===
      8500L * 3 + 1000000L)
    // time travel across the ledger still works
    assert(ZOrderTable.readAt(spark, dir, v1).count() === 5000)
    // a non-cell-determining key refuses up front
    intercept[IllegalArgumentException] {
      ZOrderTable.mergeBatch(3L, batch(0, 1), dir, Seq("id"), layout)
    }
  }

  test("mergeBatch re-validates against the table's ACTUAL layout: a sink " +
    "whose bootstrap descriptor passes the static check but is wired to a " +
    "table clustered on DIFFERENT dims refuses instead of silently taking " +
    "the pruned path (which would orphan moved rows); an evolved SHIFT " +
    "still matches") {
    val dir = tmpDir("miswire")
    // the real table clusters on (x, v) — v is NOT in the sink's keys
    ZOrderTable.publish(grid(), dir, Seq("x", "v"), 26)
    // the mis-wired sink THINKS the table is (x, y)-clustered; its own
    // static check (bootstrap dims ⊆ keys) passes — the table's real
    // layout is what must refuse
    val wrong = ZOrderTable.ZLayout("z", 26, Seq("x", "y"))
    val e = intercept[IllegalArgumentException] {
      ZOrderTable.mergeBatch(7L, grid().limit(10), dir,
        Seq("id", "x", "y"), wrong)
    }
    assert(e.getMessage.contains("wired to the wrong table"), e.getMessage)
    assert(Snapshots.lastAppliedBatch(spark, dir).isEmpty,
      "nothing was applied")
    // the CORRECT descriptor works — and keeps working after the table's
    // shift evolves (shift is the one mutable layout axis)
    val right = ZOrderTable.ZLayout("z", 26, Seq("x", "v"))
    ZOrderTable.mergeBatch(7L, grid().limit(10), dir,
      Seq("id", "x", "v"), right)
    assert(Snapshots.lastAppliedBatch(spark, dir) === Some(7L))
    ZOrderTable.evolveShift(spark, dir, 28)
    ZOrderTable.mergeBatch(8L, grid().limit(5), dir,
      Seq("id", "x", "v"), right) // bootstrap shift 26 vs table 28: fine
    assert(Snapshots.lastAppliedBatch(spark, dir) === Some(8L))
    assert(ZOrderTable.read(spark, dir).count() === 20000)
  }

  test("quantile-MAPPED layout: a TIMESTAMP x DOUBLE table clusters via " +
    "stored cuts, appends re-derive the SAME mapping from the manifest, " +
    "raw-predicate box pruning reads fewer files and equals the filter, " +
    "out-of-range values clamp to edge cells, string dims refuse") {
    val dir = tmpDir("zmap")
    def mk(lo: Long, hi: Long) = spark.range(lo, hi, 1, 8).select(
      col("id"),
      timestamp_micros(lit(694224000000000L) + col("id") * 10000000000L)
        .as("ts"), // 1992-01-01 + id * 10^10 micros (~2.8h steps)
      ((col("id") * 37 % 977) * 1.5).as("price"))
    ZOrderTable.publishMapped(mk(0, 20000), dir, Seq("ts", "price"),
      shift = 26, buckets = 256)
    val v1 = Snapshots.latest(spark, dir).get
    // the mapping rides as carried properties; the surface is clean
    val props = Snapshots.propsAt(spark, dir, v1)
    assert(props.contains("zmap.ts") && props.contains("zmap.price"))
    assert(ZOrderTable.currentLayout(spark, dir).dims ===
      Seq("__gzm_ts", "__gzm_price"))
    assert(ZOrderTable.read(spark, dir).columns.sorted.toSeq ===
      Seq("id", "price", "ts"), "grid-code columns are dropped")
    // raw-predicate box: prunes files AND equals the full filter
    val tsLo = 694224000000000L + 3000L * 10000000000L
    val tsHi = 694224000000000L + 8000L * 10000000000L
    val boxed = ZOrderTable.boxBy(spark, dir, v1,
      Seq(("ts", tsLo, tsHi), ("price", 100.0, 700.0)))
    val expect = ZOrderTable.read(spark, dir).filter(
      unix_micros(col("ts")) >= tsLo && unix_micros(col("ts")) < tsHi &&
        col("price") >= 100.0 && col("price") < 700.0)
    assert(boxed.exceptAll(expect).isEmpty && expect.exceptAll(boxed).isEmpty)
    val survived = Snapshots.prunedFilesBox(spark, dir, v1,
      Seq(("ts", tsLo, tsHi), ("price", 100.0, 700.0))).size
    val total = Snapshots.files(spark, dir, v1).size
    assert(survived < total && survived >= 1,
      s"raw box pruned $survived of $total files")
    // append: SAME stored mapping (no re-derivation drift), and
    // out-of-range timestamps clamp to the top edge cell
    ZOrderTable.appendMapped(mk(30000, 30500), dir) // ts past every cut
    val v2 = Snapshots.latest(spark, dir).get
    assert(ZOrderTable.read(spark, dir).count() === 20500)
    val appended = Snapshots.read(spark, dir)
      .filter(col("id") >= 30000).select("__gzm_ts").distinct()
      .as[Long].collect().toSeq
    assert(appended === Seq(65280L), // (256-1) * 256: the edge cell
      s"out-of-range values clamp to the edge code: $appended")
    // the box over the same raw predicates still equals the filter
    val boxed2 = ZOrderTable.boxBy(spark, dir, v2,
      Seq(("ts", tsLo, tsHi), ("price", 100.0, 700.0)))
    assert(boxed2.exceptAll(expect).isEmpty && expect.exceptAll(boxed2).isEmpty,
      "appended out-of-box rows never leak into the box")
    // REMAP: re-derive cuts from today's distribution — the clamped
    // out-of-range rows redistribute off the edge cell, the box stays
    // exact, and time travel still reads the OLD mapping (props are
    // per-version)
    val vPre = Snapshots.latest(spark, dir).get
    val cutsPre = Snapshots.propsAt(spark, dir, vPre)("zmap.ts")
    ZOrderTable.remapMapped(spark, dir)
    val vPost = Snapshots.latest(spark, dir).get
    assert(Snapshots.propsAt(spark, dir, vPost)("zmap.ts") !== cutsPre,
      "the ts cuts re-derived over the drifted distribution")
    assert(Snapshots.propsAt(spark, dir, vPre)("zmap.ts") === cutsPre,
      "the old version keeps its own mapping — time travel consistent")
    val postCodes = Snapshots.read(spark, dir)
      .filter(col("id") >= 30000).select("__gzm_ts").distinct().count()
    assert(postCodes > 1,
      s"the formerly-clamped rows spread over real cells: $postCodes")
    assert(ZOrderTable.read(spark, dir).count() === 20500)
    val boxed3 = ZOrderTable.boxBy(spark, dir, vPost,
      Seq(("ts", tsLo, tsHi), ("price", 100.0, 700.0)))
    assert(boxed3.exceptAll(expect).isEmpty && expect.exceptAll(boxed3).isEmpty,
      "the remapped box still equals the filter")
    // refusals: a string dim has no quantile grid; a plain z-table
    // refuses appendMapped
    intercept[IllegalArgumentException] {
      ZOrderTable.publishMapped(
        mk(0, 10).withColumn("s", lit("x")), tmpDir("zmaps"),
        Seq("s", "price"), 26)
    }
    val plain = tmpDir("zmplain")
    ZOrderTable.publish(grid(), plain, Seq("x", "y"), 26)
    intercept[IllegalArgumentException] {
      ZOrderTable.appendMapped(grid().limit(5), plain)
    }
    // rename of a mapped dimension refuses (the property binds it)
    intercept[IllegalArgumentException] {
      Snapshots.rename(spark, dir, "ts", "event_time")
    }
  }

  test("retryingWrite: the claim-conflict loser re-plans and lands; " +
    "exhausted attempts rethrow") {
    val dir = tmpDir("retry")
    ZOrderTable.publish(grid().filter(col("id") < 1000), dir,
      Seq("x", "y"), shift = 26)
    // attempt 1 claims above a STALE base (a racer committed since) —
    // the real ConcurrentModificationException from the real path;
    // the retry re-executes the closure, which re-plans from head
    var attempts = 0
    val v = Snapshots.retryingWrite() {
      attempts += 1
      if (attempts == 1) Snapshots.claimAbove(spark, dir, 0L) // stale base
      ZOrderTable.append(grid()
        .filter(col("id") >= 1000 && col("id") < 1100), dir)
    }
    assert(attempts === 2 && v === 2L)
    assert(ZOrderTable.read(spark, dir).count() === 1100)
    // bounded: a persistent conflict rethrows after maxAttempts
    val boom = intercept[java.util.ConcurrentModificationException] {
      Snapshots.retryingWrite(maxAttempts = 3) {
        attempts += 1
        Snapshots.claimAbove(spark, dir, 0L)
      }
    }
    assert(boom != null && attempts === 5)
  }

  test("maintain on a z-table: the epoch migrator, retention vacuum and " +
    "checkpoint in one props-driven call") {
    val dir = tmpDir("zmaint")
    ZOrderTable.publish(grid(), dir, Seq("x", "y"), shift = 26,
      meta = Seq("prop:retainversions=1"))
    val preFiles = Snapshots.files(spark, dir, 1L).size.toLong
    ZOrderTable.evolveShift(spark, dir, 28) // v2: every file now stale-epoch
    val r = ZOrderTable.maintain(spark, dir, retainMs = 0)
    assert(r.compactedTo === Some(3L), "the migrator ran as v3")
    assert(r.vacuumedFrom === Some(3L) && r.manifestsDropped === 2L)
    assert(r.filesDeleted === preFiles,
      "the stale-epoch originals became unreferenced and swept")
    assert(r.checkpointCovers === 1L)
    assert(ZOrderTable.fileShifts(spark, dir, 3L).values.toSet === Set(28))
    assert(ZOrderTable.read(spark, dir).count() === 20000)
  }

  test("refusals: non-Long dims, wrong arity, bad shift, reserved names") {
    val dir = tmpDir("refuse")
    val df = grid()
    intercept[IllegalArgumentException] {
      ZOrderTable.publish(df, dir, Seq("x"), shift = 10)
    }
    intercept[IllegalArgumentException] {
      ZOrderTable.publish(df, dir, Seq("x", "y"), shift = 32)
    }
    intercept[IllegalArgumentException] {
      ZOrderTable.publish(df.withColumn("x", col("x").cast("int")),
        dir, Seq("x", "y"), shift = 26)
    }
    intercept[IllegalArgumentException] {
      ZOrderTable.publish(df, dir, Seq("x", "y"), shift = 26, curve = "q")
    }
  }
  test("cut derivation is EXACT and BANDED: cuts equal the brute-force " +
    "integer quantile rule (cum*K >= d*N) on a tied + continuous " +
    "fixture, and the plan carries NO unpartitioned Window — the " +
    "prefix sum partitions by band (the single-reducer shape a " +
    "continuous dim's row-count-sized histogram would otherwise hit)") {
    val vals = Seq.fill(500)(1.5) ++ Seq.fill(300)(2.25) ++
      (1 to 700).map(i => 10.0 + i * 0.001)
    val df = vals.map(Tuple1(_)).toDF("price")
    val k = 16
    val (frame, kind, hist) = ZOrderTable.cutsFrame(df, "price", k)
    assert(kind === "d")
    val windows = frame.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "the prefix sum runs through a Window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "NEVER a global unpartitioned Window over the value histogram")
    val cuts =
      try frame.orderBy(col("d")).select("cut").collect()
        .map(_.getDouble(0))
      finally hist.unpersist()
    assert(hist.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "cutsFrame callers can release the histogram they were handed")
    val sorted = vals.sorted
    val n = sorted.length
    val expect = (1 until k).map { d =>
      sorted.find(v =>
        sorted.count(_ <= v).toLong * k >= d.toLong * n).get
    }
    assert(cuts.toSeq === expect, "bit-identical to the exact rule")
    assert(cuts.length === k - 1, "exactly K-1 cut rows, each emitted once")
    // integer kind goes through the same banded shape
    val (iframe, ikind, ihist) = ZOrderTable.cutsFrame(
      spark.range(0, 5000).select(col("id").as("t")), "t", 8)
    assert(ikind === "i")
    assert(iframe.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.isEmpty)
    val icuts =
      try iframe.orderBy(col("d")).select("cut").collect()
        .map(_.getLong(0))
      finally ihist.unpersist()
    // exact: min t with (t+1)*8 >= d*5000  =>  t = ceil(d*5000/8) - 1
    assert(icuts.toSeq === (1 until 8).map(d => (d * 5000L + 7) / 8 - 1))
  }
}
