package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dv, Snapshots}
import graft.streaming.ChangeFeed

/** Seeded property over the change feed: after a publish, one each of
  * append, merge, vectored delete, a vectored delete larger than
  * [[Dv.InlineMax]] positions (so a `#dvf` sidecar is written),
  * compaction, an int->long widening merge and a rename, with random
  * arguments in random order. For every step
  * v-1 -> v, the netted feed equals [[Snapshots.diff]] row for row, and
  * a replica built from the feed through `mergeBatch` (one committed
  * version per microbatch, inserts upserted, deletes without a
  * same-key insert deleted) equals the source head. A failing case
  * prints its seed and operations. */
class ChangeFeedPropertySpec extends SparkSuite {

  /** Bucket 0 holds keys [0, 5000): one file big enough for a delete
    * past the inline vector budget. */
  private val Width = 5000L
  private val BigDelete = Dv.InlineMax + 104

  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class Merge(keys: Seq[Long], fresh: Int) extends Op
  private case class Delete(keys: Seq[Long]) extends Op
  private case object DeleteBig extends Op
  private case object Compact extends Op
  private case object Widen extends Op
  private case object Rename extends Op

  /** Keys of the published range; new keys come from `fresh` only, so
    * an append never repeats a key. */
  private val someKeys = Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(0L, 5999L)))
  /** One operation of each kind, with random arguments, in random
    * order. */
  private val opsGen: Gen[List[Op]] = for {
    append <- Gen.choose(1, 40).map(Append(_))
    merge <- Gen.zip(someKeys, Gen.choose(0, 3)).map { case (k, f) => Merge(k.distinct, f) }
    delete <- someKeys.map(k => Delete(k.distinct))
    ops = List(append, merge, delete, DeleteBig, Compact, Widen, Rename)
    order <- Gen.listOfN(ops.size, Gen.choose(0.0, 1.0))
  } yield ops.zip(order).sortBy(_._2).map(_._1)

  /** Runs `ops` on a fresh table and returns the failures (empty = pass). */
  private def runCase(ops: List[Op]): Seq[String] = {
    val base = java.nio.file.Files.createTempDirectory("graft_cf_prop").toString
    val (dir, rep) = (s"$base/src", s"$base/replica")
    var nextKey = 6000L
    var payload = "payload"
    var wide = false
    var salt = 0L
    def rows(keys: Seq[Long]): DataFrame = {
      salt += 1
      val s = salt
      spark.createDataFrame(keys.map(k => (k, k * 31 + s, (k % 97).toInt)))
        .toDF("key", payload, "cnt")
        .withColumn("cnt", if (wide) col("cnt").cast(LongType) else col("cnt"))
        .withColumn("bucket", col("key").divide(Width).cast(LongType))
    }
    def fresh(n: Int): Seq[Long] = {
      val ks = nextKey until nextKey + n
      nextKey += n
      ks
    }
    Snapshots.publish(rows(0L until 6000L), dir, "bucket", Seq("key"), numTasks = 2)
    ops.foreach {
      case Append(n) => Snapshots.append(rows(fresh(n)), dir, "bucket", Seq("key"))
      case Merge(keys, f) =>
        Snapshots.merge(rows(keys ++ fresh(f)), dir, "bucket", Seq("key"), Seq("key"))
      case Delete(keys) =>
        Snapshots.deleteVectored(rows(keys), dir, "bucket", Seq("key"))
      case DeleteBig =>
        Snapshots.deleteVectored(rows(0L until BigDelete.toLong), dir, "bucket", Seq("key"))
      case Compact => Snapshots.compact(spark, dir, "bucket", Seq("key"))
      case Widen =>
        wide = true
        Snapshots.merge(rows(Seq(1L, 5001L) ++ fresh(1)), dir, "bucket", Seq("key"), Seq("key"))
      case Rename =>
        val to = s"p$salt"
        Snapshots.rename(spark, dir, payload, to)
        payload = to
    }
    val latest = Snapshots.latest(spark, dir).get

    // drain the feed one version per batch, building the replica
    val netByVersion = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Row]]()
    val q = ChangeFeed.readStream(spark, dir, maxVersionsPerBatch = 1L)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val net = ChangeFeed.net(batch).cache()
        try {
          net.collect().groupBy(_.getAs[Long](ChangeFeed.VersionCol))
            .foreach { case (v, rs) => netByVersion.put(v, rs.toSeq) }
          val inserts = net.filter(col(ChangeFeed.ChangeCol) === "insert")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
          val removed = net.filter(col(ChangeFeed.ChangeCol) === "delete")
            .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
            .join(inserts.select("key"), Seq("key"), "left_anti")
          Snapshots.mergeBatch(batchId, inserts, rep, "bucket", Seq("key"), Seq("key"),
            deletes = Some(removed))
        } finally net.unpersist()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val feedCols = Snapshots.read(spark, dir).columns.toSeq :+ ChangeFeed.ChangeCol
    val feedTypes = Snapshots.read(spark, dir).schema.fields.map(_.dataType)
    def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toSeq.mkString("|")).sorted
    val stepFailures = (2L to latest).flatMap { v =>
      // diff answers under v's names and types: align by position
      val d = Snapshots.diff(spark, dir, v - 1, v)
      val want = sorted(d.select(d.columns.zipWithIndex.map { case (c, i) =>
        if (i < feedTypes.length) col(c).cast(feedTypes(i)) else col(c)
      }: _*).collect().toSeq)
      val got = sorted(Option(netByVersion.get(v)).getOrElse(Nil).map(r =>
        Row.fromSeq(feedCols.map(c => r.get(r.fieldIndex(c))))))
      if (got == want) None
      else Some(s"step v${v - 1} -> v$v: feed ${got.take(5)} vs diff ${want.take(5)}")
    }
    val replica = sorted(Snapshots.read(spark, rep).collect().toSeq)
    val head = sorted(Snapshots.readAt(spark, dir, latest).collect().toSeq)
    val dvf = (1L to latest).exists(v =>
      Snapshots.manifest(spark, dir, v).metaValues("dvf").nonEmpty)
    Snapshots.dropPath(spark, base)
    stepFailures ++
      (if (replica == head) Nil else Seq(
        s"replica (${replica.size} rows) != head v$latest (${head.size} rows)")) ++
      (if (dvf) Nil else Seq("no version recorded a #dvf sidecar"))
  }

  test("net(feed) equals diff for every step and the feed-built replica " +
    "equals the head, over seeded random operation sequences") {
    val seeds = Seq(20261020L, 20261021L)
    val failures = seeds.flatMap { s =>
      val ops = opsGen.pureApply(Gen.Parameters.default, Seed(s))
      info(s"seed $s: $ops")
      runCase(ops).map(f => s"seed $s, ops $ops: $f")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
