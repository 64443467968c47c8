package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Bits

import graft.operators.{BucketedTable, HashBucketedTable, Snapshots, ZOrderTable}

/** The four table layouts (flat, width, hash, z) against one naive
  * model: a fixed op sequence — a merge of existing and new keys, a
  * delete, `mergeBatch` plus a replay of the same batch id, a rename,
  * a widening int→long merge, compact — runs on each layout, and
  * after every step the layout's `read` equals a Scala `Map[key, row]`
  * and every file outside the step's touched set keeps its exact
  * path. Plus the manifest carry rule itself, and a guard that the
  * layout objects never write manifest lines by hand again. */
class LayoutModelSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_model_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  /** One row per key `k`; every other column derives from `k`, so a
    * model row is just the key's payload. `p` is an INT until the
    * widening step. */
  private def rows(ks: Seq[Long], pay: Long => Long): DataFrame =
    ks.map(k => (k, f"k$k%05d", k * 7919 % 65536, k * 104729 % 65536, k % 4,
        pay(k).toInt))
      .toDF("k", "s", "x", "y", "b", "p")

  /** One layout's surface, as the sequence drives it. `couldHold`
    * names the files of version `v` the layout's own arithmetic lets
    * hold the keys of `keys` (bucket, key range, hash or cell) — the
    * files a write of those keys may rewrite. */
  private case class L(name: String, keyCols: Seq[String],
      publish: (DataFrame, String) => Long,
      read: String => DataFrame,
      merge: (DataFrame, String) => Long,
      delete: Option[(DataFrame, String) => Long],
      mergeBatch: Option[(Long, DataFrame, String) => Long],
      compact: String => Long,
      couldHold: (String, Long, DataFrame) => Set[String])

  private def bucketMatch(dir: String, v: Long, keys: DataFrame,
                          epochOf: String => Long,
                          bucket: Long => org.apache.spark.sql.Column): Set[String] =
    Snapshots.files(spark, dir, v).groupBy(epochOf).flatMap { case (e, fs) =>
      val bs = keys.select(bucket(e)).as[Long].collect().toSet
      fs.filter(f => Snapshots.fileBucket(f).exists(bs.contains))
    }.toSet

  private val zl = ZOrderTable.ZLayout("z", 26, Seq("x", "y"))

  private val layouts = Seq(
    L("flat", Seq("k"),
      (df, d) => Snapshots.publish(df, d, "b", Seq("k")),
      d => Snapshots.read(spark, d),
      (df, d) => Snapshots.merge(df, d, "b", Seq("k"), Seq("k")),
      Some((df, d) => Snapshots.delete(df, d, "b", Seq("k"), Seq("k"))),
      Some((id, df, d) => Snapshots.mergeBatch(id, df, d, "b", Seq("k"), Seq("k"))),
      d => Snapshots.compact(spark, d, "b", Seq("k")),
      (d, v, keys) => bucketMatch(d, v, keys, _ => 0L, _ => col("b"))),
    L("width", Seq("k"),
      (df, d) => BucketedTable.publish(df, d, "k", 100L),
      d => BucketedTable.read(spark, d),
      (df, d) => BucketedTable.merge(df, d, Seq("k")),
      None, None,
      d => BucketedTable.compact(spark, d),
      (d, v, keys) => {
        val ks = keys.select("k").as[Long].collect()
        Snapshots.versionStats(spark, d, v, "k")
          .filter(s => ks.exists(k => s.min <= k && k <= s.max))
          .map(_.path.stripPrefix(s"$d/")).toSet
      }),
    L("hash", Seq("s"),
      (df, d) => HashBucketedTable.publish(df, d, "s", 4L),
      d => HashBucketedTable.read(spark, d),
      (df, d) => HashBucketedTable.merge(df, d, Seq("s")),
      Some((df, d) => HashBucketedTable.delete(df, d, Seq("s"))),
      None,
      d => HashBucketedTable.compact(spark, d),
      (d, v, keys) => {
        val epochs = HashBucketedTable.fileBuckets(spark, d, v)
        bucketMatch(d, v, keys, epochs, n => pmod(xxhash64(col("s")), lit(n)))
      }),
    L("z", Seq("k", "x", "y"),
      (df, d) => ZOrderTable.publish(df, d, zl.dims, zl.shift),
      d => ZOrderTable.read(spark, d),
      (df, d) => ZOrderTable.merge(df, d, Seq("k", "x", "y")),
      Some((df, d) => ZOrderTable.delete(df, d, Seq("k"))),
      Some((id, df, d) => ZOrderTable.mergeBatch(id, df, d, Seq("k", "x", "y"), zl)),
      d => ZOrderTable.compact(spark, d),
      (d, v, keys) => {
        val shifts = ZOrderTable.fileShifts(spark, d, v)
        bucketMatch(d, v, keys, f => shifts(f).toLong,
          sh => shiftrightunsigned(Bits.zorder(col("x"), col("y")), sh.toInt))
      }))

  layouts.foreach { l =>
    test(s"${l.name}: a fixed op sequence keeps read == the Map model and " +
      "every untouched file's exact path") {
      val dir = tmpDir(l.name)
      var model: Map[Long, Long] = (0L until 400L).map(k => k -> k * 3).toMap
      var payload = "p"

      def assertModel(step: String): Unit = {
        val got = l.read(dir).select(col("k"), col("s"), col("x"), col("y"),
            col("b"), col(payload).cast("long"))
          .as[(Long, String, Long, Long, Long, Long)].collect()
        assert(got.length === model.size, s"$step: row count")
        got.foreach { case (k, s, x, y, b, p) =>
          assert((s, x, y, b) === ((f"k$k%05d", k * 7919 % 65536,
            k * 104729 % 65536, k % 4)), s"$step: derived columns of key $k")
          assert(model.get(k) === Some(p), s"$step: key $k")
        }
      }

      /** Run one write of `keys`; files of the previous version that
        * cannot hold any of those keys must survive byte-identical. */
      def write(step: String, keys: DataFrame)(op: => Long): Long = {
        val prev = Snapshots.latest(spark, dir).get
        val before = Snapshots.files(spark, dir, prev).toSet
        val touched = l.couldHold(dir, prev, keys)
        val v = op
        val after = Snapshots.files(spark, dir, v).toSet
        val lost = (before -- touched) -- after
        assert(lost.isEmpty, s"$step rewrote untouched files: $lost")
        v
      }

      l.publish(rows(0L until 400L, _ * 3), dir)
      assertModel("publish")

      // 1. merge: 20 existing keys and 10 new ones
      val upd = rows((10L until 30L) ++ (400L until 410L), 1000 + _)
      write("merge", upd)(l.merge(upd, dir))
      model ++= ((10L until 30L) ++ (400L until 410L)).map(k => k -> (1000 + k))
      assertModel("merge")

      // 2. delete, where the layout has one
      l.delete.foreach { delete =>
        val gone = rows(50L until 60L, identity)
        write("delete", gone)(delete(gone, dir))
        model --= (50L until 60L)
        assertModel("delete")
      }

      // 3. mergeBatch, then a replay of the same id changes nothing
      l.mergeBatch.foreach { mergeBatch =>
        val batch = rows(60L until 70L, 2000 + _)
        val vb = write("mergeBatch", batch)(mergeBatch(7L, batch, dir))
        model ++= (60L until 70L).map(k => k -> (2000 + k))
        assertModel("mergeBatch")
        assert(mergeBatch(7L, rows(60L until 70L, _ => -1), dir) === vb,
          "a replayed batch id commits nothing")
        assertModel("mergeBatch replay")
      }

      // 4. rename: metadata-only, every file kept
      val vPre = Snapshots.latest(spark, dir).get
      val vRen = Snapshots.rename(spark, dir, "p", "q")
      assert(Snapshots.files(spark, dir, vRen) === Snapshots.files(spark, dir, vPre))
      payload = "q"
      assertModel("rename")

      // 5. a WIDENING merge: the renamed int column takes longs past the
      // int range
      val wide = rows((100L until 110L) ++ (410L until 415L), identity)
        .withColumn("q", lit(5000000000L) + col("k")).drop("p")
      write("widening merge", wide)(l.merge(wide, dir))
      model ++= ((100L until 110L) ++ (410L until 415L))
        .map(k => k -> (5000000000L + k))
      assert(l.read(dir).schema("q").dataType ===
        org.apache.spark.sql.types.LongType)
      assertModel("widening merge")

      // 6. compact: same rows, and a second compact commits nothing
      val vc = l.compact(dir)
      assertModel("compact")
      assert(l.compact(dir) === vc, "compact is idempotent")
    }
  }

  test("the carry rule: declarations always carry, per-file lines only " +
    "for kept files, format/schema/txn/ts never, and `replaced` drops the " +
    "superseded lines") {
    val pm = Snapshots.Manifest(Seq("data/a/x=1/f1", "data/a/x=2/f2"), Seq(
      "#format:2", "#schema:{}", "#ts:1", "#txn:/rec", "#batch:4",
      "#prop:zlayout=z:26:x,y", "#prop:ckptevery=9", "#colmap:p:q",
      "#statcols:x", "#ndvcols:x", "#bucketw:k:100", "#bucketh:s:4",
      "#stat:k:3:0:9:data/a/x=1/f1", "#stat:k:3:10:19:data/a/x=2/f2",
      "#stat2:x:i:3:0:9:data/a/x=1/f1", "#stat3:x:i:4:9:3:0:9:data/a/x=2/f2",
      "#ndv:x:AAAA:data/a/x=2/f2", "#fsize:99:data/a/x=1/f1",
      "#fsize:98:data/a/x=2/f2", "#dv:AQ:data/a/x=1/f1",
      "#dvf:7:dv/s.dvs:data/a/x=2/f2", "#filew:100:data/a/x=1/f1",
      "#fileh:4:data/a/x=2/f2", "#filez:26:data/a/x=1/f1"))
    val st = Snapshots.Staged(Seq("data/b/x=3/f3"), "{}",
      Seq("stat:k:1:20:20:data/b/x=3/f3"), sizeLines = Seq("fsize:5:data/b/x=3/f3"))
    val lines = Snapshots.carriedLines(pm, Seq("data/a/x=1/f1"), st, "S",
      Seq("filew:100:data/b/x=3/f3"))
    assert(lines === Seq("format:2", "schema:S", "filew:100:data/b/x=3/f3",
      "batch:4", "prop:zlayout=z:26:x,y", "prop:ckptevery=9", "colmap:p:q",
      "statcols:x", "ndvcols:x", "bucketw:k:100", "bucketh:s:4",
      "stat:k:3:0:9:data/a/x=1/f1", "stat2:x:i:3:0:9:data/a/x=1/f1",
      "fsize:99:data/a/x=1/f1", "dv:AQ:data/a/x=1/f1",
      "filew:100:data/a/x=1/f1", "filez:26:data/a/x=1/f1",
      "stat:k:1:20:20:data/b/x=3/f3", "fsize:5:data/b/x=3/f3"))
    // a metadata-only commit: every file kept, one declaration replaced,
    // a new batch stamp supersedes the carried one
    val evolved = Snapshots.carriedLines(pm, pm.files,
      Snapshots.Staged(Nil, "S", Nil), "S", Seq("bucketw:k:50", "batch:5"),
      _.startsWith("bucketw:"))
    assert(evolved.count(_.startsWith("bucketw:")) === 1 &&
      evolved.contains("bucketw:k:50"))
    assert(evolved.filter(_.startsWith("batch:")) === Seq("batch:5"))
    assert(evolved.count(l => l.startsWith("dv:") || l.startsWith("dvf:")) === 2)
    assert(!evolved.exists(l => l.startsWith("ts:") || l.startsWith("txn:")))
  }

  test("the layout objects write no manifest lines by hand: no direct " +
    "commit and no Manifest *Lines accessor outside Snapshots") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala/graft/operators")
    val layoutFiles = Seq("BucketedTable.scala", "HashBucketedTable.scala",
      "ZOrderTable.scala").map(root.resolve)
    layoutFiles.foreach(f => assert(Files.isRegularFile(f), s"$f missing"))
    val handWritten = ("""Snapshots\.commit\(|\.(statLines|stat2Lines|""" +
      """ndvLines|fsizeLines|dvLines|colmapLines|propLines|statColsLines|""" +
      """ndvColsLines)\b""").r
    val hits = layoutFiles.flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.collect {
          case (line, n) if handWritten.findFirstIn(line).nonEmpty =>
            s"$f:${n + 1}: ${line.trim}"
        }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
